"""Similarity search over embedding columns.

Beyond-reference capability (SURVEY §7 Phase 6): approximate-nearest-
neighbor over `embeddings.embedding` (array<float>, 64-dim).

Two paths:
  cosine_topk    exact brute-force top-k for a bounded query set — the
                 correctness baseline. Query side is broadcast (small);
                 the corpus side streams — no shuffle of the big side.
  lsh_topk       sign-LSH (axis-aligned hyperplanes) bucketing: corpus
                 hashed into 2^b buckets, candidates restricted to the
                 query's bucket. The 100 TB path: bucket key is the
                 shuffle/partition key, each bucket is tiny.
  near_pairs     cosine near-duplicate pairs within buckets (dedup use).

All math is JVM-side fold expressions (zip_with/aggregate) in double
precision; the DuckDB oracle mirrors the same left-to-right folds, so
values match bit-for-bit before the final round(…, 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databus_spark.plans.hints import widen_scan

# r14: every ANN / semdedup / kmeans operator widens its embedding
# input at entry (widen_scan: round-robin to min(cores, 8), no-op when
# the input already arrives in >= 8 splits — the 100 TB case). The
# fixture tables are single-file single-row-group parquet, so the
# per-row vector work (quantize, norms, broadcast-crossjoin scoring,
# Lloyd assignment rounds) otherwise fuses onto a ONE-task scan; the
# registry-wide stage sweep (tools/opt_sweep.py) flagged 0.4-2.1 CPU-s
# single-task stages across the whole family.


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# --- compile-time-dim unrolled twins (opt-in fast path) ---------------------
# The HOF folds above never reach whole-stage codegen (interpreted
# expression eval — the SCALE.md perf rule), which is fine for small
# outputs but dominates the semdedup families' wall: the r11 breakdown
# measured ~6.5 s of a 7 s semdedup_survivors_v2 inside the
# assignment-distance + pair-cosine folds. When the vector length is
# KNOWN at plan time, the fold unrolls into a flat
# 0.0 + a[1]*b[1] + ... + a[dim]*b[dim] projection that codegen
# compiles — measured 3-5x faster on the assignment shape. The addition
# order is IDENTICAL to the HOF fold (acc starts 0.0, left-to-right),
# so the IEEE result is bit-identical and the DuckDB list_sum oracles
# stay exact; in ANSI mode a wrong dim fails loud (element_at past the
# array end errors). These are SEPARATE functions, not a dim= param on
# the shared helpers, so only operators that opt in change engine path
# (the driver-window freshness invariant budgets rotation slots by
# changed closure). Above _UNROLL_MAX_DIM the generated method gets big
# enough that codegen splitting eats the win — callers fall back.

_UNROLL_MAX_DIM = 256


def _use_unroll(dim: int | None) -> bool:
    return dim is not None and 0 < dim <= _UNROLL_MAX_DIM


def _dot_u(a: Column, b: Column, dim: int) -> Column:
    out = F.lit(0.0)
    for i in range(1, dim + 1):
        out = out + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
            "double"
        )
    return out


def _norm_u(a: Column, dim: int) -> Column:
    return F.sqrt(_dot_u(a, a, dim))


def _cosine_u(a: Column, b: Column, dim: int) -> Column:
    return _dot_u(a, b, dim) / (_norm_u(a, dim) * _norm_u(b, dim))


def _sqdist_u(a: Column, b: Column, dim: int) -> Column:
    """Exact-bigint squared L2 between quantized vectors (integer adds
    are order-free, so exactness needs no ordering argument)."""
    out = F.lit(0).cast("long")
    for i in range(1, dim + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        out = out + d * d
    return out


_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = _DOT_SQL.format(a=a, b=a)
    nb = _DOT_SQL.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


# ---------------------------------------------------------------------------
# The ANN family's two shared rules
# ---------------------------------------------------------------------------

def _top_k(scored: DataFrame, k: int, score: Column) -> DataFrame:
    """The top-k rank rule of every ANN operator: ``rank`` =
    row_number per query_id by ``score`` (an ordering, e.g.
    F.desc("sim")), ties to the lowest neighbor_id; rows with
    rank <= k survive."""
    w = Window.partitionBy("query_id").orderBy(score, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _probe_cells(scored: DataFrame, id_col: str, n: int) -> DataFrame:
    """The probe-cell rule over an _ivf_scored frame: each vector's
    ``n`` highest-cell_sim cells, ties to the lowest cell_id. Used for
    query probes and for multi-assigned corpus postings alike."""
    w = Window.partitionBy(id_col).orderBy(F.desc("cell_sim"), F.asc("cell_id"))
    return scored.withColumn("cell_rank", F.row_number().over(w)).where(
        F.col("cell_rank") <= n
    )


def _cosine_ranked(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) from candidate pairs carrying
    q_vec and c_vec: exact float cosine rounded to 6dp, top-k."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("sim"),
    )
    return _top_k(scored, k, F.desc("sim")).select("query_id", "neighbor_id", "sim", "rank")


# ---------------------------------------------------------------------------
# Exact brute-force top-k
# ---------------------------------------------------------------------------

def cosine_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Top-k cosine neighbors for vec_id < n_queries (self excluded).

    The query set is broadcast; ranking is deterministic:
    (round(sim,6) DESC, neighbor id ASC).
    """
    emb = widen_scan(emb)
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    return _cosine_ranked(
        c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id")), k
    )


def cosine_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    sim = _cosine_sql("q.embedding", "c.embedding")
    return f"""
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({sim}, 6) AS sim,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({sim}, 6) DESC, c.vec_id ASC
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < {n_queries}
        )
        WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) brute-force top-k — the memory/IO lever
# ---------------------------------------------------------------------------
# At the 100 TB embedding tier the standard first move is scalar
# quantization: per-vector symmetric int8 (q_i = floor(x_i/m * 127 +
# 0.5), m = the vector's max |component|) cuts the stored/scanned
# bytes 8x vs float64 and keeps dot products in exact INTEGER
# arithmetic (<= 64 * 127^2 per pair — no float accumulation order to
# argue about, so the engine and the DuckDB twin agree bit-for-bit by
# construction). The per-vector scale CANCELS in cosine, so int8
# cosine approximates float cosine with only the rounding error of
# the 127-level grid; the operator's output carries the measured
# answer-quality signal in-row (`in_float_topk`: is this neighbor
# also in the exact float top-k), making the quantization-recall
# tradeoff a checked quantity, not a claim.

SQ8_SCALE = 127


def _sq8(vec: Column) -> Column:
    m = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(1e-30)
    )
    return F.transform(
        vec,
        lambda x: F.floor(x / m * SQ8_SCALE + F.lit(0.5)).cast("long"),
    )


def _idot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# The two sides of an integer-dot join: (id, int8 codes, code self-norm).
# Self-norms ride each ROW (one HOF dot per vector, not three per pair):
# the pair expression then pays ONE interpreted HOF dot, with the same
# doubles multiplied in the same order.
_SQ8_SIDES = {"q": ("query_id", "_qq", "_qn"), "c": ("neighbor_id", "_qc", "_cn")}


def _sq8_codes(
    df: DataFrame, id_col: str, vec_col: str, side: str, *carry: str
) -> DataFrame:
    """(id, codes, norm, *carry) named for the query (``side="q"``:
    query_id, _qq, _qn) or corpus side (``"c"``: neighbor_id, _qc,
    _cn); ``carry`` columns ride between codes and norm."""
    i, code, norm = _SQ8_SIDES[side]
    return df.select(
        F.col(id_col).alias(i), _sq8(F.col(vec_col)).alias(code), *carry
    ).withColumn(norm, F.sqrt(_idot(F.col(code), F.col(code)).cast("double")))


def _sq8_sim() -> Column:
    """int8 cosine of a (query, corpus) code pair, rounded to 6dp."""
    return F.round(
        _idot(F.col("_qq"), F.col("_qc")).cast("double")
        / (F.col("_qn") * F.col("_cn")),
        6,
    )


def _with_float_recall(
    ranked: DataFrame, emb: DataFrame, n_queries: int, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """``ranked`` plus ``in_float_topk``: is the hit also in the exact
    float top-k (cosine_topk, same k) of its query."""
    fl = cosine_topk(emb, n_queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id", F.lit(True).alias("_in_f")
    )
    return ranked.join(F.broadcast(fl), ["query_id", "neighbor_id"], "left").select(
        *ranked.columns,
        F.coalesce(F.col("_in_f"), F.lit(False)).alias("in_float_topk"),
    )


def sq8_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_recall: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim_q8[, in_float_topk]): top-k by
    int8-quantized cosine for the hash-convention query set, each hit
    flagged against the EXACT float top-k (same k, the cosine_topk
    ranking). Deterministic: integer dots, one double expression per
    pair rounded to 6dp, ties to the lowest neighbor id. Assumes
    non-zero vectors (an all-zero vector quantizes to a zero norm and
    NaN sim — the fixture has none; a production deployment drops or
    epsilon-pads them at ingest).

    ``check_recall`` is fixture-scale recall INSTRUMENTATION: it runs
    the exact float cosine_topk alongside, which costs strictly more
    than the quantized scan it validates (r12 ADVICE). The scale
    deployment — where SQ8 is the actual 8x IO lever — passes False
    and the ``in_float_topk`` column is omitted; only the quantized
    scan runs."""
    c = _sq8_codes(widen_scan(emb), id_col, vec_col, "c").localCheckpoint(
        eager=False
    )  # quantize once, feed both join sides
    q = c.where(F.col("neighbor_id") < n_queries).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("_qc").alias("_qq"),
        F.col("_cn").alias("_qn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _sq8_sim().alias("sim_q8"))
    )
    ranked = _top_k(scored, k, F.desc("sim_q8")).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "sim_q8"
    )
    if not check_recall:
        return ranked
    return _with_float_recall(ranked, emb, n_queries, k, id_col, vec_col)


def sq8_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    """DuckDB twin: identical quantization grid (floor(x/m*127+0.5) —
    no round(), whose half-away ties differ between engines), integer
    dots, one double expression per pair."""
    idot = (
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i]))"
    )
    dqc = idot.format(a="q.qv", b="c.qv")
    dqq = idot.format(a="q.qv", b="q.qv")
    dcc = idot.format(a="c.qv", b="c.qv")
    fsim = _cosine_sql("q.embedding", "c.embedding")
    return f"""
        WITH sq8_m AS (
            SELECT vec_id, embedding,
                   greatest(list_max(list_transform(embedding,
                            e -> abs(e))), 1e-30) AS m
            FROM embeddings),
        sq8 AS (
            SELECT vec_id,
                   list_transform(embedding,
                        e -> CAST(floor(e / m * {SQ8_SCALE}.0 + 0.5)
                                  AS BIGINT)) AS qv
            FROM sq8_m),
        sq8_float_topk AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({fsim}, 6) DESC, c.vec_id ASC
                       ) AS rank
                FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {n_queries})
            WHERE rank <= {k}),
        sq8_scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(CAST({dqc} AS DOUBLE)
                         / (sqrt(CAST({dqq} AS DOUBLE))
                            * sqrt(CAST({dcc} AS DOUBLE))), 6) AS sim_q8
            FROM sq8 q JOIN sq8 c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < {n_queries}),
        sq8_rk AS (
            SELECT query_id, neighbor_id, sim_q8,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sim_q8 DESC, neighbor_id ASC
                   ) AS rank
            FROM sq8_scored)
        SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INT) AS rank,
               r.sim_q8, f.query_id IS NOT NULL AS in_float_topk
        FROM sq8_rk r
        LEFT JOIN sq8_float_topk f
          ON r.query_id = f.query_id AND r.neighbor_id = f.neighbor_id
        WHERE r.rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF + SQ8: the serving-tier composition (r12 verdict #3)
# ---------------------------------------------------------------------------
# sq8_topk alone is an exact scan over quantized vectors — the 8x byte
# win is real but at 100 TB it still touches every vector. The serving
# shape the int8 leg exists for prunes FIRST: coarse IVF cells bound
# which vectors are read at all (file-level pruning when the index is
# written partitioned by cell_id), then the int8 codes inside probed
# cells are scored with exact integer dots. Stored index = one argmax
# cell id + 64 int8 codes per vector: 8x fewer bytes than float64 AND
# only nprobe/n_cells of them scanned per query. Answer quality and
# scan cost are both carried IN-ROW (`in_float_topk` vs the exact
# float ranking; `cand_frac` = candidates scored / corpus size), so
# the recall/IO tradeoff is a checked quantity per record, not a
# config comment.

# Fixture dial, measured (numpy sweep + Spark confirmation, r13): the
# synthetic embeddings are ISOTROPIC (mean true-neighbor cosine 0.33 at
# sf0.01 / 0.37 at sf0.1), so recall is information-theoretically ~= the
# scanned fraction — no partition of random data separates neighbors,
# and matching the flat SQ8 scan's 0.98 recall therefore forces the
# dial to near-full coverage HERE: assign=3/probe=5 of 8 cells reads
# recall 0.98/0.98/1.00 at cand_frac ~0.98 across the three SFs
# (assign=2/probe=5 reads 0.96 at 0.89 — pruning buys 11% scan for
# 0.02 recall on noise). The pruning VALUE shows on clusterable data:
# the planted-cluster test (tests/test_round13_ops.py) pins the SAME
# operator at a cluster-appropriate dial (assign=1, nprobe=1) reading
# recall 1.0 at cand_frac ~1/n_cells — the shape a real (clustered)
# 100 TB embedding corpus actually gets, where the dial is chosen per
# corpus via the recall-eval pre-flight (ann_recall_eval).
SQ8IVF_ASSIGN = 3  # cells each corpus vector is posted to (multi-assign)
SQ8IVF_NPROBE = 5  # probed cells per query (of N_CELLS=8)


def _sq8_postings(
    emb: DataFrame, cent: DataFrame, id_col: str, vec_col: str, assign_r: int
) -> DataFrame:
    """Corpus postings (neighbor_id, _qc, cell_id, _cn): each vector
    posted to its ``assign_r`` nearest cells with its int8 codes — the
    rows of the staged index, and the inline corpus side.

    The keyed repartition replaces the window's own exchange (r14),
    which AQE coalesced to ONE partition (the score table is tiny in
    bytes), running rank + quantize serial: 3.0 CPU-s on 1 task. It
    satisfies the window's distribution, so no exchange is added."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    scored = _ivf_scored(emb, cent, id_col, vec_col).repartition(par, id_col)
    return _sq8_codes(_probe_cells(scored, id_col, assign_r), id_col, vec_col, "c", "cell_id")


def _sq8_probes(
    queries: DataFrame, cent: DataFrame, id_col: str, vec_col: str, nprobe: int
) -> DataFrame:
    """Query probes (query_id, _qq, cell_id, _qn): each query's
    ``nprobe`` nearest cells with its int8 codes."""
    scored = _ivf_scored(queries, cent, id_col, vec_col)
    return _sq8_codes(_probe_cells(scored, id_col, nprobe), id_col, vec_col, "q", "cell_id")


def _sq8_cell_candidates(postings: DataFrame, probes: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, _qq, _qn, _qc, _cn) for every posting in
    a probed cell of its query, self excluded."""
    return (
        postings.join(F.broadcast(probes), "cell_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qq", "_qn", "_qc", "_cn")
    )


def _sq8_ranked(cand: DataFrame, k: int, n_corpus: int) -> DataFrame:
    """(query_id, neighbor_id, rank, sim_q8, cand_frac) from candidate
    code pairs. Multi-assignment surfaces a pair from up to assign_r
    probed cells, so pairs are deduplicated before scoring; cand_frac
    is the query's distinct candidates over ``n_corpus``."""
    scored = (
        cand.dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", _sq8_sim().alias("sim_q8"))
        .localCheckpoint(eager=False)
    )  # feeds the per-query candidate count AND the ranking
    cc = scored.groupBy("query_id").agg(F.count(F.lit(1)).alias("_nc"))
    return (
        _top_k(scored, k, F.desc("sim_q8"))
        .join(F.broadcast(cc), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            "sim_q8",
            F.round(F.col("_nc").cast("double") / F.lit(float(n_corpus)), 6).alias(
                "cand_frac"
            ),
        )
    )


def sq8_ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = SQ8IVF_NPROBE,
    assign_r: int = SQ8IVF_ASSIGN,
    check_recall: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim_q8, cand_frac[, in_float_topk]):
    IVF-pruned int8 top-k — each corpus vector is posted to its
    ``assign_r`` nearest coarse cells (multi-assignment trades index
    size for recall, the semdedup_multiprobe convention), each query
    probes its ``nprobe`` nearest cells (same deterministic
    hash-sampled centroids as ivf_topk; probe ranking by 6dp-rounded
    float cosine, identical in both engines), and ONLY the quantized
    codes posted there are scored, with exact integer dot products.
    It is sq8_ivf_serve over postings built in memory: the same
    postings, probe and scoring pieces, without the write.
    ``check_recall`` as in sq8_topk: fixture-scale instrumentation,
    skipped in the scale deployment."""
    cent = _ivf_centroids(emb, id_col, vec_col)
    cand = _sq8_cell_candidates(
        _sq8_postings(emb, cent, id_col, vec_col, assign_r),
        _sq8_probes(emb.where(F.col(id_col) < n_queries), cent, id_col, vec_col, nprobe),
    )
    ranked = _sq8_ranked(cand, k, emb.count())  # one scalar: the cand_frac denominator
    if not check_recall:
        return ranked
    return _with_float_recall(ranked, emb, n_queries, k, id_col, vec_col)


def sq8_ivf_topk_sql(
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = SQ8IVF_NPROBE,
    assign_r: int = SQ8IVF_ASSIGN,
) -> str:
    """DuckDB twin: same centroids (hash-sample LIMIT N_CELLS), same
    6dp probe ranking, same top-assign_r multi-assignment, same int8
    grid and integer dots, same in-row cand_frac (distinct candidate
    count / corpus count, one 6dp divide)."""
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'ivf'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")
    fsim = _cosine_sql("q.embedding", "c.embedding")
    idot = (
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i]))"
    )
    dqc = idot.format(a="q.qv", b="c.qv")
    dqq = idot.format(a="q.qv", b="q.qv")
    dcc = idot.format(a="c.qv", b="c.qv")
    return f"""
        WITH sqiv_cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {N_CELLS}),
        sqiv_ranked AS (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                   ) AS cell_rank
            FROM embeddings v CROSS JOIN sqiv_cent c),
        sqiv_q8 AS (
            SELECT vec_id,
                   list_transform(embedding,
                        e -> CAST(floor(e / m * {SQ8_SCALE}.0 + 0.5)
                                  AS BIGINT)) AS qv
            FROM (SELECT vec_id, embedding,
                         greatest(list_max(list_transform(embedding,
                                  e -> abs(e))), 1e-30) AS m
                  FROM embeddings)),
        sqiv_cand AS (
            SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
            FROM (SELECT vec_id, cell_id FROM sqiv_ranked
                  WHERE vec_id < {n_queries} AND cell_rank <= {nprobe}) p
            JOIN (SELECT vec_id, cell_id FROM sqiv_ranked
                  WHERE cell_rank <= {assign_r}) a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.vec_id),
        sqiv_scored AS (
            SELECT query_id, neighbor_id,
                   round(CAST({dqc} AS DOUBLE)
                         / (sqrt(CAST({dqq} AS DOUBLE))
                            * sqrt(CAST({dcc} AS DOUBLE))), 6) AS sim_q8
            FROM sqiv_cand
            JOIN sqiv_q8 q ON q.vec_id = query_id
            JOIN sqiv_q8 c ON c.vec_id = neighbor_id),
        sqiv_cc AS (
            SELECT query_id, count(*) AS nc FROM sqiv_scored GROUP BY query_id),
        sqiv_n AS (SELECT count(*) AS n_corpus FROM embeddings),
        sqiv_fl AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({fsim}, 6) DESC, c.vec_id ASC
                       ) AS rank
                FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {n_queries})
            WHERE rank <= {k}),
        sqiv_rk AS (
            SELECT query_id, neighbor_id, sim_q8,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sim_q8 DESC, neighbor_id ASC
                   ) AS rank
            FROM sqiv_scored)
        SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INT) AS rank,
               r.sim_q8,
               round(CAST(cc.nc AS DOUBLE) / n.n_corpus, 6) AS cand_frac,
               f.query_id IS NOT NULL AS in_float_topk
        FROM sqiv_rk r
        JOIN sqiv_cc cc USING (query_id)
        CROSS JOIN sqiv_n n
        LEFT JOIN sqiv_fl f
          ON r.query_id = f.query_id AND r.neighbor_id = f.neighbor_id
        WHERE r.rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF + SQ8 as an ON-DISK serving artifact (r13 verdict next-#2)
# ---------------------------------------------------------------------------
# The staged form of sq8_ivf_topk, the way BM25 did it
# (text.bm25_postings partitioned by token bucket + bm25_serve): build
# once -> parquet partitioned by cell_id -> serve by reading ONLY the
# probed cells' directories (file-listing-level pruning, not a post-scan
# filter), merge unindexed deltas inline, append increments without
# touching staged partitions. Build, append, serve and the inline
# sq8_ivf_topk share one postings builder, one probe builder and one
# candidate scorer.
#
# Layout:
#   <dir>/centroids/   N_CELLS rows (cell_id, cell_vec) — frozen at build
#   <dir>/postings/cell_id=<c>/  (neighbor_id, _qc int8-code array, _cn)
#                      assign_r postings per vector, 8x smaller than floats
#   <dir>/stats/       one (n_rows) row per build/append; reader sums


def _sq8_index_write(
    emb: DataFrame,
    cent: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    assign_r: int,
    mode: str,
) -> None:
    """Write ``emb``'s postings against ``cent`` and its stats row.
    The postings are regrouped by cell_id before the write, so each
    write adds one file per cell however many tasks built them."""
    import os as _o

    _sq8_postings(emb, cent, id_col, vec_col, assign_r).repartition(
        "cell_id"
    ).write.mode(mode).partitionBy("cell_id").parquet(_o.path.join(index_dir, "postings"))
    emb.groupBy().agg(F.count(F.lit(1)).alias("n_rows")).write.mode(mode).parquet(
        _o.path.join(index_dir, "stats")
    )


def sq8_ivf_index_build(
    emb: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_r: int = SQ8IVF_ASSIGN,
) -> None:
    """Materialize the IVF+SQ8 serving index: the centroids and the
    postings sq8_ivf_topk joins in memory (_sq8_postings: same
    top-assign_r multi-assignment, same int8 grid, same hoisted
    self-norms), written instead of joined — so a serve over the
    artifact is bit-equal to the inline composition by construction.
    Codes are array<long> holding int8 values: parquet round-trips them
    exactly, and the integer dot at serve time is the same exact
    arithmetic."""
    import os as _o

    cent = _ivf_centroids(emb, id_col, vec_col)
    cent.write.mode("overwrite").parquet(_o.path.join(index_dir, "centroids"))
    _sq8_index_write(emb, cent, index_dir, id_col, vec_col, assign_r, "overwrite")


def sq8_ivf_index_append(
    spark,
    index_dir: str,
    delta_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_r: int = SQ8IVF_ASSIGN,
) -> None:
    """Incremental ingest: assign the delta against the FROZEN build
    centroids (re-training would orphan every staged posting), append
    its postings into the existing cell_id partitions, and append a
    stats row (the reader sums). Append-only — no staged partition is
    rewritten, so a crash mid-append leaves the old index serving."""
    import os as _o

    cent = spark.read.parquet(_o.path.join(index_dir, "centroids"))
    _sq8_index_write(delta_emb, cent, index_dir, id_col, vec_col, assign_r, "append")


def _is_local_path(path: str) -> bool:
    """True when ``path`` is reachable through the driver's LOCAL
    filesystem (bare paths and file:// URIs): the precondition for the
    driver-side pyarrow stats read below. Any other scheme (hdfs://,
    s3a://, ...) must go through Spark's Hadoop filesystem layer."""
    scheme, sep, _ = path.partition("://")
    return not sep or scheme == "file"


def _stats_n_rows(spark, stats_path: str) -> int:
    """Total n_rows of a stats artifact (a handful of one-row parquet
    files). Local paths: one driver-side pyarrow read, zero Spark jobs.
    Non-local paths: the Spark read (one small job) — pyarrow's local
    fs cannot reach them, Spark's Hadoop conf can."""
    if _is_local_path(stats_path):
        import pyarrow.parquet as _pq

        scheme, sep, rest = stats_path.partition("://")
        p = rest if sep else stats_path
        return sum(_pq.read_table(p, columns=["n_rows"])["n_rows"].to_pylist())
    return sum(
        r["n_rows"]
        for r in spark.read.parquet(stats_path).select("n_rows").collect()
    )


def sq8_ivf_serve(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = SQ8IVF_NPROBE,
    delta_emb: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim_q8, cand_frac): serve top-k
    from the staged artifact — equal to sq8_ivf_topk(check_recall=
    False) over the same corpus, but the corpus-side work (centroids,
    assignment, quantization) happened once at build time, and ONLY
    the probed cells' partition directories are opened (explicit path
    list + basePath, so the pruning is in the file listing itself, not
    a filter the scan might or might not push). The probed-cell
    collect is bounded by n_queries * nprobe distinct cell ids.

    ``delta_emb``: vectors ingested since the last build/append —
    unindexed, so EVERY query scores them (the bounded full-scan tail
    every staged-index serve carries; bm25_serve's delta_docs is the
    same shape). cand_frac's denominator grows by the delta count.

    The returned DataFrame carries ``_sq8_probed_paths`` — the literal
    directory list the postings read was scoped to. The plan's leaf
    scans hide behind lazy localCheckpoints (inputFiles() reads
    empty), but spark.read.parquet(*paths) CANNOT read outside its
    path list, so the attribute is the ground truth the pruning test
    asserts on (tests/test_round14_ops.py)."""
    import os as _o

    from pyspark.sql import Observation

    cent = spark.read.parquet(_o.path.join(index_dir, "centroids"))
    # the probed-cell list rides the checkpoint job via Observation: one
    # eager job, no separate distinct+collect (r15 driver latency)
    obs = Observation()
    probes = (
        _sq8_probes(queries, cent, id_col, vec_col, nprobe)
        .observe(obs, F.collect_set("cell_id").alias("cells"))
        .localCheckpoint(eager=True)  # feeds the cell list AND the join
    )
    cells = sorted(obs.get["cells"])
    postings_root = _o.path.join(index_dir, "postings")
    paths = [
        p
        for c in cells
        if _o.path.isdir(p := _o.path.join(postings_root, f"cell_id={c}"))
    ]
    cand = None  # every probed cell may be empty on a tiny delta-only index
    if paths:
        cand = _sq8_cell_candidates(
            spark.read.option("basePath", postings_root).parquet(*paths), probes
        )
    # a driver-side read of the one-row stats files on local paths: no
    # Spark job per serve batch (_stats_n_rows)
    n_corpus = _stats_n_rows(spark, _o.path.join(index_dir, "stats"))
    if delta_emb is not None:
        qd = probes.dropDuplicates(["query_id"]).select("query_id", "_qq", "_qn")
        dcand = (
            _sq8_codes(delta_emb, id_col, vec_col, "c")
            .crossJoin(F.broadcast(qd))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "_qq", "_qn", "_qc", "_cn")
        )
        cand = dcand if cand is None else cand.unionByName(dcand)
        n_corpus += delta_emb.count()
    if cand is None:
        raise ValueError(f"empty index at {index_dir} and no delta to serve from")
    out = _sq8_ranked(cand, k, n_corpus)
    out._sq8_probed_paths = paths
    return out


def sq8_ivf_serve_sql(
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = SQ8IVF_NPROBE,
    assign_r: int = SQ8IVF_ASSIGN,
) -> str:
    """DuckDB twin of the SERVED composition: sq8_ivf_topk_sql minus
    the float-reference leg (the serve path is the deployment shape —
    check_recall instrumentation never runs there), same centroids,
    probe ranking, multi-assignment, int8 grid, and in-row cand_frac."""
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'ivf'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")
    idot = (
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i]))"
    )
    dqc = idot.format(a="q.qv", b="c.qv")
    dqq = idot.format(a="q.qv", b="q.qv")
    dcc = idot.format(a="c.qv", b="c.qv")
    return f"""
        WITH sqsv_cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {N_CELLS}),
        sqsv_ranked AS (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                   ) AS cell_rank
            FROM embeddings v CROSS JOIN sqsv_cent c),
        sqsv_q8 AS (
            SELECT vec_id,
                   list_transform(embedding,
                        e -> CAST(floor(e / m * {SQ8_SCALE}.0 + 0.5)
                                  AS BIGINT)) AS qv
            FROM (SELECT vec_id, embedding,
                         greatest(list_max(list_transform(embedding,
                                  e -> abs(e))), 1e-30) AS m
                  FROM embeddings)),
        sqsv_cand AS (
            SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
            FROM (SELECT vec_id, cell_id FROM sqsv_ranked
                  WHERE vec_id < {n_queries} AND cell_rank <= {nprobe}) p
            JOIN (SELECT vec_id, cell_id FROM sqsv_ranked
                  WHERE cell_rank <= {assign_r}) a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.vec_id),
        sqsv_scored AS (
            SELECT query_id, neighbor_id,
                   round(CAST({dqc} AS DOUBLE)
                         / (sqrt(CAST({dqq} AS DOUBLE))
                            * sqrt(CAST({dcc} AS DOUBLE))), 6) AS sim_q8
            FROM sqsv_cand
            JOIN sqsv_q8 q ON q.vec_id = query_id
            JOIN sqsv_q8 c ON c.vec_id = neighbor_id),
        sqsv_cc AS (
            SELECT query_id, count(*) AS nc FROM sqsv_scored GROUP BY query_id),
        sqsv_n AS (SELECT count(*) AS n_corpus FROM embeddings),
        sqsv_rk AS (
            SELECT query_id, neighbor_id, sim_q8,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sim_q8 DESC, neighbor_id ASC
                   ) AS rank
            FROM sqsv_scored)
        SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INT) AS rank,
               r.sim_q8,
               round(CAST(cc.nc AS DOUBLE) / n.n_corpus, 6) AS cand_frac
        FROM sqsv_rk r
        JOIN sqsv_cc cc USING (query_id)
        CROSS JOIN sqsv_n n
        WHERE r.rank <= {k}
    """


def sq8_ivf_serve_delta_sql(
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = SQ8IVF_NPROBE,
    assign_r: int = SQ8IVF_ASSIGN,
    delta_n: int = 25,
    delta_off: int = 100_000,
) -> str:
    """DuckDB twin of the serve-with-unindexed-delta path: the delta
    (reversed copies of the first ``delta_n`` vectors, id-shifted by
    ``delta_off`` — decorrelated 'new' data both engines derive
    identically) is quantized on the same grid and joins EVERY query's
    candidate set unconditionally, exactly as sq8_ivf_serve merges
    vectors ingested since the last index build; cand_frac's
    denominator grows by the delta count."""
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'ivf'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")
    idot = (
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i]))"
    )
    dqc = idot.format(a="q.qv", b="c.qv")
    dqq = idot.format(a="q.qv", b="q.qv")
    dcc = idot.format(a="c.qv", b="c.qv")
    return f"""
        WITH sqsd_cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {N_CELLS}),
        sqsd_ranked AS (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                   ) AS cell_rank
            FROM embeddings v CROSS JOIN sqsd_cent c),
        sqsd_delta AS (
            SELECT vec_id + {delta_off} AS vec_id,
                   list_reverse(embedding) AS embedding
            FROM embeddings WHERE vec_id < {delta_n}),
        sqsd_all AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL SELECT vec_id, embedding FROM sqsd_delta),
        sqsd_q8 AS (
            SELECT vec_id,
                   list_transform(embedding,
                        e -> CAST(floor(e / m * {SQ8_SCALE}.0 + 0.5)
                                  AS BIGINT)) AS qv
            FROM (SELECT vec_id, embedding,
                         greatest(list_max(list_transform(embedding,
                                  e -> abs(e))), 1e-30) AS m
                  FROM sqsd_all)),
        sqsd_cand AS (
            SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
            FROM (SELECT vec_id, cell_id FROM sqsd_ranked
                  WHERE vec_id < {n_queries} AND cell_rank <= {nprobe}) p
            JOIN (SELECT vec_id, cell_id FROM sqsd_ranked
                  WHERE cell_rank <= {assign_r}) a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.vec_id
            UNION
            SELECT DISTINCT p.vec_id AS query_id, d.vec_id AS neighbor_id
            FROM (SELECT DISTINCT vec_id FROM sqsd_ranked
                  WHERE vec_id < {n_queries}) p
            CROSS JOIN sqsd_delta d
            WHERE d.vec_id <> p.vec_id),
        sqsd_scored AS (
            SELECT query_id, neighbor_id,
                   round(CAST({dqc} AS DOUBLE)
                         / (sqrt(CAST({dqq} AS DOUBLE))
                            * sqrt(CAST({dcc} AS DOUBLE))), 6) AS sim_q8
            FROM sqsd_cand
            JOIN sqsd_q8 q ON q.vec_id = query_id
            JOIN sqsd_q8 c ON c.vec_id = neighbor_id),
        sqsd_cc AS (
            SELECT query_id, count(*) AS nc FROM sqsd_scored GROUP BY query_id),
        sqsd_n AS (
            SELECT (SELECT count(*) FROM embeddings)
                   + (SELECT count(*) FROM sqsd_delta) AS n_corpus),
        sqsd_rk AS (
            SELECT query_id, neighbor_id, sim_q8,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sim_q8 DESC, neighbor_id ASC
                   ) AS rank
            FROM sqsd_scored)
        SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INT) AS rank,
               r.sim_q8,
               round(CAST(cc.nc AS DOUBLE) / n.n_corpus, 6) AS cand_frac
        FROM sqsd_rk r
        JOIN sqsd_cc cc USING (query_id)
        CROSS JOIN sqsd_n n
        WHERE r.rank <= {k}
    """


# ---------------------------------------------------------------------------
# Sign-LSH bucketing (the scale path)
# ---------------------------------------------------------------------------

N_PLANES = 4   # bits per hash table -> 2^4 = 16 buckets per table
N_TABLES = 4   # OR-amplification: candidate if SAME bucket in ANY table


def lsh_bucket(vec: Column, table: int = 0) -> Column:
    """Bucket = sign bits of N_PLANES components (axis-aligned hyperplane
    LSH — deterministic, no RNG, oracle-reproducible). Table t reads
    dims [t*N_PLANES+1 .. (t+1)*N_PLANES]; multiple tables give the
    standard recall-boosting OR-construction."""
    base = table * N_PLANES
    bits = [
        F.when(F.element_at(vec, base + i + 1).cast("double") > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i in range(N_PLANES)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _lsh_bucket_sql(vec: str, table: int = 0) -> str:
    base = table * N_PLANES
    parts = " + ".join(
        f"(CASE WHEN CAST({vec}[{base + i + 1}] AS DOUBLE) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    )
    return f"CAST({parts} AS INT)"


def _multi_table_buckets(emb: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """(id, vec, table, bucket) rows across all N_TABLES hash tables."""
    parts = [
        emb.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(f"{out_id}_vec"),
            F.lit(t).alias("table_id"),
            lsh_bucket(F.col(vec_col), t).alias("bucket"),
        )
        for t in range(N_TABLES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lsh_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """ANN top-k: candidates = union over N_TABLES sign-LSH tables of the
    query's bucket (OR-amplified for recall), then exact re-rank.

    At scale (table_id, bucket) is the equi-join key, so this is
    N_TABLES co-partitioned joins instead of a cross product; candidates
    per query ~ N_TABLES * n / 2^N_PLANES.
    """
    banded = _multi_table_buckets(widen_scan(emb), id_col, vec_col, "neighbor_id")
    q = banded.where(F.col("neighbor_id") < n_queries).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("neighbor_id_vec").alias("q_vec"),
        "table_id",
        "bucket",
    )
    cand = (
        banded.join(F.broadcast(q), ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "neighbor_id", F.col("neighbor_id_vec").alias("c_vec"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _cosine_ranked(cand, k)


def lsh_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    sim = _cosine_sql("q.embedding", "c.embedding")
    table_rows = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS table_id, "
        f"{_lsh_bucket_sql('embedding', t)} AS bucket FROM embeddings"
        for t in range(N_TABLES)
    )
    return f"""
        WITH banded AS ({table_rows}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM banded q
            JOIN banded c
              ON c.table_id = q.table_id AND c.bucket = q.bucket
             AND c.vec_id <> q.vec_id
            WHERE q.vec_id < {n_queries}
        )
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, neighbor_id,
                   round({sim}, 6) AS sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round({sim}, 6) DESC, neighbor_id ASC
                   ) AS rank
            FROM cand
            JOIN embeddings q ON q.vec_id = query_id
            JOIN embeddings c ON c.vec_id = neighbor_id
        )
        WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

N_CELLS = 8      # coarse cells (raise with corpus size: ~sqrt(n) in practice)
IVF_NPROBE = 2   # cells probed per query


def _ivf_centroids(
    emb: DataFrame, id_col: str, vec_col: str, n_cells: int | None = None
) -> DataFrame:
    """Deterministic coarse centroids: the `n_cells` (default N_CELLS)
    corpus vectors with the lowest seeded hash — a hash-sample
    initialization (the standard IVF practice of sampling training
    points, minus the k-means iterations, which would not be
    bit-reproducible across engines). cell_id IS the centroid's vector
    id, so both engines name cells identically."""
    from databus_spark.functions.hashes import portable_hash64

    h = portable_hash64(F.col(id_col).cast("string"), F.lit("ivf"))
    return (
        emb.select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cell_vec"), h.alias("_h")
        )
        .orderBy("_h", "cell_id")  # TakeOrdered(N_CELLS): no global sort
        .limit(n_cells if n_cells is not None else N_CELLS)
        .drop("_h")
        # lazy checkpoint: every broadcast of the centroid dim re-runs
        # the TakeOrdered scan otherwise (ivf_topk/ivfpq_topk broadcast
        # it twice) — materialize the 8 rows once
        .localCheckpoint(eager=False)
    )


def _ivf_scored(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """(id, vec, cell_id, cell_sim): every vector scored against the
    broadcast centroid set — map-side only, the corpus never shuffles
    to be scored. ``dim`` opts into the unrolled codegen cosine."""
    cos = (
        _cosine_u(F.col(vec_col), F.col("cell_vec"), dim)
        if _use_unroll(dim)
        else cosine(F.col(vec_col), F.col("cell_vec"))
    )
    return emb.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        "cell_id",
        F.round(cos, 6).alias("cell_sim"),
    )


def _ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Argmax-cell assignment as a map-side-combinable max_by aggregate
    (NOT a window: a corpus-wide row_number would sort-shuffle every
    scored row; max_by reduces the x N_CELLS fan-out back to one row per
    vector before the exchange). Tie-break: highest sim, lowest cell."""
    scored = _ivf_scored(emb, centroids, id_col, vec_col, dim=dim)
    return scored.groupBy(id_col).agg(
        F.max_by("cell_id", F.struct(F.col("cell_sim"), (-F.col("cell_id")).alias("_nc"))).alias(
            "cell_id"
        ),
        F.first(vec_col).alias(vec_col),  # constant within the group
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_pred=None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their argmax-cosine cell;
    each query probes its IVF_NPROBE nearest cells; exact re-rank inside.

    Scale shape: centroids broadcast (tiny), assignment map-side, the
    candidate join is an equi-join on cell_id, candidates per query
    ~ IVF_NPROBE * n / N_CELLS. The complementary scale path to sign-LSH
    (lsh_topk): IVF adapts to the data's density (cells follow sampled
    points), LSH is data-oblivious.

    ``candidate_pred`` (a boolean Column over the corpus frame's
    columns) makes this FILTERED ANN — metadata-constrained search,
    e.g. "nearest English docs only". The predicate is applied to the
    index side BEFORE the candidate join (pushdown into the posting
    lists, the filter-aware-search shape), never to the query side,
    and the index itself is built over the full corpus so it is shared
    across differently-filtered queries."""
    emb = widen_scan(emb)
    cent = _ivf_centroids(emb, id_col, vec_col)
    corpus = emb.where(candidate_pred) if candidate_pred is not None else emb
    assigned = _ivf_assign(corpus, cent, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cell_id"
    )
    # probe ranking only over the (tiny) query subset — its window is
    # over n_queries * N_CELLS rows, not the corpus
    q_scored = _ivf_scored(emb.where(F.col(id_col) < n_queries), cent, id_col, vec_col)
    probes = _probe_cells(q_scored, id_col, IVF_NPROBE).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "cell_id"
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _cosine_ranked(cand, k)


def ivf_topk_sql(n_queries: int = 10, k: int = 5, candidate_where: str = "TRUE") -> str:
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'ivf'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")
    sim = _cosine_sql("q.embedding", "n.embedding")
    return f"""
        WITH cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {N_CELLS}
        ),
        ranked AS (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                   ) AS cell_rank
            FROM embeddings v CROSS JOIN cent c
        ),
        cand AS (
            SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
            FROM (SELECT vec_id, cell_id FROM ranked
                  WHERE vec_id < {n_queries} AND cell_rank <= {IVF_NPROBE}) p
            JOIN (SELECT r.vec_id, r.cell_id FROM ranked r
                  JOIN embeddings e ON e.vec_id = r.vec_id
                  WHERE r.cell_rank = 1 AND ({candidate_where})) a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.vec_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, neighbor_id, round({sim}, 6) AS sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round({sim}, 6) DESC, neighbor_id ASC
                   ) AS rank
            FROM cand
            JOIN embeddings q ON q.vec_id = query_id
            JOIN embeddings n ON n.vec_id = neighbor_id
        )
        WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup use)
# ---------------------------------------------------------------------------

# Hot-bucket safety valve for the near-pair generator: 2^N_PLANES buckets
# per table is a RECALL choice (the low cosine thresholds of near-dup
# detection need coarse buckets), so bucket population grows with the
# corpus — fine while the within-bucket join is the point, degenerate
# when a corpus of near-identical embeddings collapses onto one bucket.
# Buckets beyond this population are dropped from pair generation (such
# monocultures are exact-dedup's job), mirroring MAX_BAND_DOCS in the
# minhash/simhash band generators. Far above any test-SF population
# (<= ~125/bucket at sf0.1), so results are unchanged until degeneracy.
MAX_BUCKET_VECS = 5000


def embedding_near_pairs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Pairs sharing a bucket in ANY hash table, with cosine >= threshold."""
    # lazy checkpoint: banded feeds THREE consumers (the bucket-pop agg
    # and both self-join sides) — the N_TABLES interpreted sign-fold
    # bucket expressions would otherwise run 3x per vector
    banded = _multi_table_buckets(
        widen_scan(emb), "vec_id", "embedding", "vec"
    ).localCheckpoint(eager=False)
    ok = (
        banded.groupBy("table_id", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where((F.col("_n") >= 2) & (F.col("_n") <= MAX_BUCKET_VECS))
        .select("table_id", "bucket")
    )
    banded = banded.join(F.broadcast(ok), ["table_id", "bucket"])
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec") < F.col("b.vec")),
        )
        .select(
            F.col("a.vec").alias("vec_a"),
            F.col("a.vec_vec").alias("va"),
            F.col("b.vec").alias("vec_b"),
            F.col("b.vec_vec").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.select(
            "vec_a",
            "vec_b",
            # HOF on purpose: the sim filter sits against this select,
            # where an unrolled tree would evaluate interpreted (see
            # _semdedup_within_cells' pair-sim note)
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def embedding_near_pairs_sql(threshold: float = 0.4) -> str:
    sim = _cosine_sql("a.embedding", "b.embedding")
    table_rows = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS table_id, "
        f"{_lsh_bucket_sql('embedding', t)} AS bucket FROM embeddings"
        for t in range(N_TABLES)
    )
    return f"""
        WITH banded AS ({table_rows}),
        ok AS (
            SELECT table_id, bucket FROM banded
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_VECS}
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
            FROM banded x
            JOIN ok ON ok.table_id = x.table_id AND ok.bucket = x.bucket
            JOIN banded y
              ON y.table_id = x.table_id AND y.bucket = x.bucket
             AND x.vec_id < y.vec_id
        )
        SELECT vec_a, vec_b, round({sim}, 6) AS sim
        FROM cand
        JOIN embeddings a ON a.vec_id = vec_a
        JOIN embeddings b ON b.vec_id = vec_b
        WHERE round({sim}, 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN — the compressed-index scale path
# ---------------------------------------------------------------------------
# At 100 TB the candidate re-rank can't afford full vectors: product
# quantization stores each vector as M_SUB one-byte codes and scores
# queries against a per-query ADC (asymmetric distance computation)
# lookup table. Restated deterministically: codebooks are hash-sampled
# corpus subvectors (no k-means — not bit-reproducible across engines),
# per-subspace distances round to 6dp and sum as DECIMAL so ranking is
# exact in both engines.
#
# Scale shape: codebook is tiny and BROADCAST for encoding (corpus never
# shuffles to be encoded; one map pass emits M_SUB codes per vector);
# the query-side ADC table is n_queries*M_SUB*PQ_K rows — broadcast —
# so scoring is a map-side join + one groupBy(query, neighbor) sum.

M_SUB = 8    # subspaces
SUB_DIM = 8  # dims per subspace (8 x 8 = 64-dim embeddings)
PQ_K = 32    # codes per subspace codebook (r6: 8 -> 32 after an sf0.01
             # recall sweep — the donor codebook is the shortlist's
             # quality bottleneck; 32 codes lift rerank recall@5 from
             # 0.38 to 0.52 at the same probe fraction, and the encode
             # stays a map-side argmin, linear in PQ_K. Production PQ
             # uses 256; the synthetic 64-dim corpus saturates ~64.)
IVFPQ_NPROBE = 3  # cells probed by the IVFPQ paths (the plain IVF path
                  # keeps IVF_NPROBE=2; the compressed index affords a
                  # wider probe because ADC scoring is so much cheaper
                  # than full-vector scoring)


def _pq_codebook(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """PQ_K lowest-seeded-hash corpus vectors donate their subvectors as
    the per-subspace codebooks; code_id is the donor's vector id, so
    both engines name codes identically (the _ivf_centroids trick)."""
    from databus_spark.functions.hashes import portable_hash64

    h = portable_hash64(F.col(id_col).cast("string"), F.lit("pq"))
    return (
        emb.select(
            F.col(id_col).alias("code_id"), F.col(vec_col).alias("code_vec"), h.alias("_h")
        )
        .orderBy("_h", "code_id")
        .limit(PQ_K)
        .drop("_h")
        .localCheckpoint(eager=False)  # one TakeOrdered job for both broadcasts
    )


def _sub_l2sq(a_vec: str, b_vec: str) -> F.Column:
    """Squared L2 between the m-th subvectors of two array columns;
    `m` must be an in-scope integer column."""
    return F.expr(
        f"round(aggregate(zip_with(slice({a_vec}, m*{SUB_DIM}+1, {SUB_DIM}),"
        f" slice({b_vec}, m*{SUB_DIM}+1, {SUB_DIM}),"
        " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
    )


def pq_encode(emb: DataFrame, codebook: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, m, code): per-subspace argmin-L2 code assignment — broadcast
    codebook, map-side min_by; the corpus is never shuffled."""
    fan = (
        emb.crossJoin(F.broadcast(codebook))
        .select(id_col, vec_col, "code_id", "code_vec")
        .withColumn("m", F.explode(F.sequence(F.lit(0), F.lit(M_SUB - 1))))
        .withColumn("d", _sub_l2sq(vec_col, "code_vec"))
    )
    return fan.groupBy(id_col, "m").agg(
        F.min_by("code_id", F.struct(F.col("d"), F.col("code_id"))).alias("code")
    )


def _pq_adc(
    emb: DataFrame,
    n_queries: int,
    id_col: str,
    vec_col: str,
    pq_index: tuple[DataFrame, DataFrame] | None,
) -> tuple[DataFrame, DataFrame]:
    """(codes, adc) of the PQ scorers: the corpus codes (neighbor_id, m,
    code) — the given materialized index or a fresh encode — and the
    per-query ADC table (query_id, m, code, d), n_queries*M_SUB*PQ_K
    decimal distances."""
    if pq_index is not None:
        cb, codes = pq_index
    else:
        cb = _pq_codebook(emb, id_col, vec_col)
        codes = pq_encode(emb, cb, id_col, vec_col)
    adc = (
        emb.where(F.col(id_col) < n_queries)
        .crossJoin(F.broadcast(cb))
        .withColumn("m", F.explode(F.sequence(F.lit(0), F.lit(M_SUB - 1))))
        .select(
            F.col(id_col).alias("query_id"),
            "m",
            F.col("code_id").alias("code"),
            _sub_l2sq(vec_col, "code_vec").cast("decimal(18,6)").alias("d"),
        )
    )
    return codes.select(F.col(id_col).alias("neighbor_id"), "m", "code"), adc


def _pq_ranked(approx: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, approx_dist, rank): ascending ADC
    distance, top-k."""
    return _top_k(approx, k, F.asc("approx_dist")).select(
        "query_id",
        "neighbor_id",
        F.col("approx_dist").cast("double").alias("approx_dist"),
        "rank",
    )


def pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ-style ANN top-k by ADC: approx dist = sum over subspaces of
    the query's distance to the neighbor's code centroid. Decimal sums
    keep cross-engine ranking exact; ties break on neighbor id.

    ``pq_index`` = (codebook, codes) lets callers reuse a MATERIALIZED
    index: the corpus encode is linear in PQ_K and identical across the
    whole PQ query family, so production (and the bench registry) builds
    it once — the FAISS build-once/serve-many shape — instead of
    re-encoding per query."""
    emb = widen_scan(emb)
    codes, adc = _pq_adc(emb, n_queries, id_col, vec_col, pq_index)
    approx = (
        codes.join(F.broadcast(adc), ["m", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("decimal(24,6)").alias("approx_dist"))
    )
    return _pq_ranked(approx, k)


def pq_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'pq'")

    def sub_l2(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {SUB_DIM} + 1), "
            f"i -> ({a}[m*{SUB_DIM}+i] - {b}[m*{SUB_DIM}+i])"
            f" * ({a}[m*{SUB_DIM}+i] - {b}[m*{SUB_DIM}+i]))), 6)"
        )

    return f"""
        WITH cb AS (
            SELECT vec_id AS code_id, embedding AS code_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {PQ_K}
        ),
        subspaces AS (SELECT unnest(range(0, {M_SUB})) AS m),
        codes AS (
            -- argmin-L2 with (d, code_id) tie-break; DuckDB's min_by
            -- can't take a struct key, so the oracle uses the window form
            SELECT neighbor_id, m, code FROM (
                SELECT v.vec_id AS neighbor_id, m, c.code_id AS code,
                       row_number() OVER (
                           PARTITION BY v.vec_id, m
                           ORDER BY {sub_l2('v.embedding', 'c.code_vec')} ASC, c.code_id ASC
                       ) AS rn
                FROM embeddings v CROSS JOIN cb c CROSS JOIN subspaces
            ) WHERE rn = 1
        ),
        adc AS (
            SELECT q.vec_id AS query_id, m, c.code_id AS code,
                   CAST({sub_l2('q.embedding', 'c.code_vec')} AS DECIMAL(18,6)) AS d
            FROM embeddings q CROSS JOIN cb c CROSS JOIN subspaces
            WHERE q.vec_id < {n_queries}
        )
        SELECT query_id, neighbor_id,
               CAST(approx_dist AS DOUBLE) AS approx_dist, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, neighbor_id, approx_dist,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id ASC
                   ) AS rank
            FROM (
                SELECT query_id, neighbor_id,
                       CAST(sum(d) AS DECIMAL(24,6)) AS approx_dist
                FROM codes JOIN adc USING (m, code)
                WHERE neighbor_id <> query_id
                GROUP BY 1, 2
            )
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF + PQ combined: coarse-cell pruning THEN compressed ADC scoring —
# the full FAISS-style IVFPQ shape. pq_topk scores every corpus vector's
# codes against the query ADC table; at 100 TB that is still an
# O(corpus) scan per batch of queries. Adding the IVF stage first
# restricts ADC scoring to vectors in the query's nprobe cells
# (~ IVF_NPROBE / N_CELLS of the corpus), so the scan cost drops by the
# cell fan-in while the score math (and its decimal exactness) is
# unchanged. Candidate generation and scoring both remain broadcast
# joins against tiny dimension tables; the corpus never shuffles.
# ---------------------------------------------------------------------------

def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int | None = None,
    pq_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ANN top-k with IVF cell pruning + PQ ADC scoring.

    Candidates = corpus vectors assigned (argmax cosine) to one of the
    query's `nprobe` (default IVFPQ_NPROBE) highest-cosine cells;
    scores = sum over M_SUB
    subspaces of the query's L2 to the candidate's code centroid
    (decimal-summed, rank ties broken on neighbor id). Returns
    (query_id, neighbor_id, approx_dist, rank).
    """
    if nprobe is None:
        nprobe = IVFPQ_NPROBE
    emb = widen_scan(emb)
    cent = _ivf_centroids(emb, id_col, vec_col)
    assigned = _ivf_assign(emb, cent, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "cell_id"
    )
    q_scored = _ivf_scored(emb.where(F.col(id_col) < n_queries), cent, id_col, vec_col)
    probes = _probe_cells(q_scored, id_col, nprobe).select(
        F.col(id_col).alias("query_id"), "cell_id"
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    codes, adc = _pq_adc(emb, n_queries, id_col, vec_col, pq_index)
    approx = (
        # cand is bounded by the query batch (n_queries * probed-cell
        # population) — broadcast it explicitly; with PQ_K=32 the codes
        # side's size estimate grew past AQE's auto-broadcast threshold
        # and this join silently fell back to sort-merge
        codes.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(adc), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("decimal(24,6)").alias("approx_dist"))
    )
    return _pq_ranked(approx, k)


def ivfpq_topk_sql(n_queries: int = 10, k: int = 5, nprobe: int | None = None) -> str:
    from databus_spark.functions.hashes import portable_hash64_sql

    if nprobe is None:
        nprobe = IVFPQ_NPROBE

    h_ivf = portable_hash64_sql("vec_id", "'ivf'")
    h_pq = portable_hash64_sql("vec_id", "'pq'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")

    def sub_l2(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {SUB_DIM} + 1), "
            f"i -> ({a}[m*{SUB_DIM}+i] - {b}[m*{SUB_DIM}+i])"
            f" * ({a}[m*{SUB_DIM}+i] - {b}[m*{SUB_DIM}+i]))), 6)"
        )

    return f"""
        WITH cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h_ivf}, vec_id LIMIT {N_CELLS}
        ),
        ranked AS (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                   ) AS cell_rank
            FROM embeddings v CROSS JOIN cent c
        ),
        cand AS (
            SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
            FROM (SELECT vec_id, cell_id FROM ranked
                  WHERE vec_id < {n_queries} AND cell_rank <= {nprobe}) p
            JOIN (SELECT vec_id, cell_id FROM ranked WHERE cell_rank = 1) a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.vec_id
        ),
        cb AS (
            SELECT vec_id AS code_id, embedding AS code_vec
            FROM embeddings ORDER BY {h_pq}, vec_id LIMIT {PQ_K}
        ),
        subspaces AS (SELECT unnest(range(0, {M_SUB})) AS m),
        codes AS (
            SELECT neighbor_id, m, code FROM (
                SELECT v.vec_id AS neighbor_id, m, c.code_id AS code,
                       row_number() OVER (
                           PARTITION BY v.vec_id, m
                           ORDER BY {sub_l2('v.embedding', 'c.code_vec')} ASC, c.code_id ASC
                       ) AS rn
                FROM embeddings v CROSS JOIN cb c CROSS JOIN subspaces
            ) WHERE rn = 1
        ),
        adc AS (
            SELECT q.vec_id AS query_id, m, c.code_id AS code,
                   CAST({sub_l2('q.embedding', 'c.code_vec')} AS DECIMAL(18,6)) AS d
            FROM embeddings q CROSS JOIN cb c CROSS JOIN subspaces
            WHERE q.vec_id < {n_queries}
        )
        SELECT query_id, neighbor_id,
               CAST(approx_dist AS DOUBLE) AS approx_dist, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, neighbor_id, approx_dist,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id ASC
                   ) AS rank
            FROM (
                SELECT cand.query_id, cand.neighbor_id,
                       CAST(sum(d) AS DECIMAL(24,6)) AS approx_dist
                FROM cand
                JOIN codes ON codes.neighbor_id = cand.neighbor_id
                JOIN adc ON adc.query_id = cand.query_id
                        AND adc.m = codes.m AND adc.code = codes.code
                GROUP BY 1, 2
            )
        ) WHERE rank <= {k}
    """


def ivfpq_rerank_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The production ANN endpoint: IVFPQ ADC produces a cheap
    shortlist (top `shortlist` per query, compressed codes only), then
    ONLY those candidates fetch full vectors for an exact cosine
    re-rank — recall of the exact metric at the scan cost of the
    compressed one. The shortlist (n_queries * shortlist rows) is
    broadcast with the query vectors; the corpus contributes one
    id-equi-join to fetch candidate vectors."""
    cand = ivfpq_topk(
        emb, n_queries, shortlist, id_col, vec_col, pq_index=pq_index
    ).select("query_id", "neighbor_id")
    qv = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    return _cosine_ranked(nv.join(F.broadcast(cand.join(qv, "query_id")), "neighbor_id"), k)


def ivfpq_rerank_topk_sql(n_queries: int = 10, k: int = 5, shortlist: int = 40) -> str:
    sim = _cosine_sql("q.embedding", "c.embedding")
    return f"""
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, neighbor_id,
                   round({sim}, 6) AS sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round({sim}, 6) DESC, neighbor_id ASC
                   ) AS rank
            FROM ({ivfpq_topk_sql(n_queries, shortlist)}) s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings c ON c.vec_id = s.neighbor_id
        )
        WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine near-pairs (text-side sparse-vector similarity)
# ---------------------------------------------------------------------------
# The sparse complement to embedding_near_pairs: documents as tf-idf
# vectors over their token vocabulary, cosine computed through the term
# inverted index — the classic sparse-similarity blocking. Terms with
# df > MAX_TERM_DF are dropped from the VOCABULARY itself (stop-term
# removal — they carry no similarity signal and their posting lists fan
# out quadratically), so weights, norms, and dots all agree on the same
# filtered vocab and the cosine is exact over it.
#
# Cross-engine determinism: per-term weights round to 6dp and are cast
# to DECIMAL(18,6); products and the norm/dot sums then run entirely in
# decimal (exact, order-independent), converting to double only for the
# final sqrt/divide — so Spark and DuckDB agree bit-for-bit before the
# final round(...,6). At 100 TB: two aggs (tf, df), posting-list
# pair-gen bounded by C(MAX_TERM_DF, 2) per term, one pair-sum shuffle.

MAX_TERM_DF = 100


def sparse_tfidf_pairs(docs: DataFrame, threshold: float = 0.3) -> DataFrame:
    from databus_spark.operators.dedup import pair_array
    from databus_spark.operators.text import tokens_col

    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        toks.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") <= MAX_TERM_DF)
    )
    n_docs = toks.select(F.count_distinct("doc_id").alias("n_docs"))
    w = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    postings = (
        w.where(F.col("df") >= 2)
        .groupBy("tok")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "w"))).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    n = postings.sparkSession.sparkContext.defaultParallelism
    pairs = pair_array(
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            (x["w"] * y["w"]).alias("p"),
        )
    )
    dots = (
        postings.repartition(n)
        .select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.doc_a").alias("doc_a"), F.col("pr.doc_b").alias("doc_b"))
        .agg(F.sum("pr.p").cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 6).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )


def sparse_tfidf_pairs_sql(from_sql: str, threshold: float = 0.3) -> str:
    from databus_spark.operators.text import TOKENS_SQL

    toks = TOKENS_SQL.format(col="text")
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({toks}) AS tok FROM ({from_sql})
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM toks
            GROUP BY 1 HAVING count(DISTINCT doc_id) <= {MAX_TERM_DF}
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
        w AS (
            SELECT tf.doc_id, tf.tok, df.df,
                   CAST(round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                        AS DECIMAL(18,6)) AS w
            FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        ),
        norms AS (
            SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS norm
            FROM w GROUP BY 1
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.w * b.w) AS DOUBLE) AS dot
            FROM w a JOIN w b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            WHERE a.df >= 2
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(dot / (na.norm * nb.norm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE round(dot / (na.norm * nb.norm), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster embeddings, drop within-cluster
# near-duplicates
# ---------------------------------------------------------------------------
# Abbas et al., "SemDeDup" (arXiv:2303.09540): web-scale corpora carry
# documents that are SEMANTICALLY interchangeable without sharing
# n-grams (templated rewrites, translations, boilerplate paraphrase).
# The recipe: cluster the embedding space, compare pairs ONLY within a
# cluster, keep one representative per semantic-duplicate group.
#
# Restated Spark-first: cells = the deterministic hash-sampled IVF
# centroids (k-means iterations are not bit-reproducible across
# engines; the cell granularity, not the centroid polish, is what
# bounds pair-gen). Pair generation is within-cell only, capped by
# MAX_BUCKET_VECS like every pair generator here; grouping is the same
# label-propagation connected components the lexical dedup family uses.
# N_CELLS grows ~sqrt(n) with the corpus, so cells — and the pair join
# — stay bounded; the corpus contributes one map-side assignment and
# one equi-join keyed by cell.

SEM_THRESHOLD = 0.4  # same near-dup cosine bar as embedding_near_pairs
SEM_CELLS = 32       # finer than the ANN N_CELLS: within-cell pair cost
                     # is quadratic, and semdedup pairs EVERY cell member
                     # (ANN only probes); 8 -> 32 cells cut the sf0.1
                     # pair volume ~16x. Measured bench row at sf0.1:
                     # 7.2 s in r6 (assigned recomputed per consumer),
                     # 4.6 s in r7 after the lazy localCheckpoint on the
                     # 4-consumer assignment. Scale rule stays ~sqrt(n).

# SemDeDup over TRAINED cells — the paper's actual pipeline shape
# (arXiv:2303.09540 clusters with k-means, then dedups within clusters).
SEM_TRAINED_K = 32     # same cell density the hash-sample variant uses
SEM_TRAINED_ITER = 2


def semdedup_survivors(
    emb: DataFrame,
    threshold: float = SEM_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = SEM_CELLS,
    dim: int | None = None,
    trained: bool = False,
    n_probe: int | None = 1,
    n_iter: int = SEM_TRAINED_ITER,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cell_id, cluster_id, is_survivor) for EVERY corpus
    vector: vectors whose cosine >= threshold within a shared cell are
    grouped transitively; survivor = the min-id member. Vectors with no
    semantic twin survive as their own singleton cluster. Output is one
    row per vector under its rank-1 cell.

    The one SemDeDup operator; its registered rows differ only in where
    the cells come from and how many each vector probes:

    * ``trained=False`` — cells are the ``n_cells`` hash-sampled corpus
      vectors (_ivf_centroids), ranked by rounded cosine (ties -> lowest
      cell). ``trained=True`` — cells are ``n_cells`` integer-exact
      Lloyd centroids (``centroids`` if staged, else ``n_iter`` rounds
      from the hash-sample init), ranked by the exact dist*k+cell key.
      Trained cells follow the data's density, so near-twins co-locate
      more reliably — the SemDeDup paper's clustering stage.
    * ``n_probe`` — each vector joins its top-``n_probe`` cells for pair
      generation. Single assignment (1) is the family's measured recall
      cap: near-twins straddling a cell boundary never meet (r8 fixture
      measurement: 0.34 co-location recall hash-sample, 0.29 trained);
      probing runner-up cells is the standard IVF fix. ``None`` derives
      the probes from the cell count via the measured joint scale rule
      (semdedup_probe_for_cells) — 6 at the 128-cell reference, 24 at the
      1280-cell third-decade point — so scaling ``n_cells`` with the
      corpus carries the recall dial along instead of silently
      fragmenting neighborhoods (the refuted cells-only rule).

    Pairs sharing several probed cells are generated once per shared
    cell; they collapse in dedup_clusters' canonical edge distinct.

    Pair scoring precomputes each vector's norm ONCE (one fold per
    vector instead of two extra folds per PAIR): sim = dot/(na*nb) is
    the same IEEE expression the inline cosine evaluates, so the
    oracle's inline form stays bit-identical.

    ``n_cells`` — the 100 TB knob: cells must scale with corpus size
    (cells ~ N / target_cell_size) or every cell outgrows
    MAX_BUCKET_VECS and the cap silently drops ALL pair work (found by
    the 100x soak: x100 "finished" 3x faster than x10 because zero
    cells survived the cap). The default stays SEM_CELLS for oracle
    parity at test SFs.

    Scale shape: centroids broadcast, scoring map-side; top-p selection
    is a per-vector collect over n_cells scored rows; pair-gen fan-out
    is n_probe rows per vector but stays population-capped per cell."""
    if n_probe is None:
        n_probe = semdedup_probe_for_cells(n_cells)
    # The float vector rides the top-p groupBy via first() where the
    # scored fan-out is cheap to carry it through: the hash family
    # scores ON it, and at n_cells <= SEM_CELLS carrying beat a
    # join-back's extra exchange (bench: 4.48 -> 6.55 s with the
    # join-back on the 2-probe row; the 32-cell trained row runs one
    # job fewer carrying). Past that, the trained family — which scores
    # only the quantized vector — joins it back from the checkpointed
    # embq instead: at 128 cells the carry was 131 MB of array copy
    # (2000 x 128 x 64 doubles, measured -0.8 s); at corpus scale it is
    # corpus x k. The join is vid-keyed over corpus-sized sides.
    carry = ("_vec",) if not trained or n_cells <= SEM_CELLS else ()
    if trained:
        vecs = _km_frame(widen_scan(emb), id_col, vec_col, raw="_vec")
        if centroids is None:
            centroids = _km_train(vecs, n_cells, n_iter, dim=dim)
        top = _km_top_cells(vecs, centroids, n_cells, n_probe, dim=dim, carry=carry)
    else:
        vecs = widen_scan(emb).select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("_vec")
        )
        cent = _ivf_centroids(vecs, "vid", "_vec", n_cells=n_cells)
        top = _top_cells(
            _ivf_scored(vecs, cent, "vid", "_vec", dim=dim),
            F.struct((-F.col("cell_sim")).alias("s"), F.col("cell_id").alias("c")),
            lambda x: x["c"],
            n_probe,
            carry,
        )
    if not carry:
        top = top.join(vecs.select("vid", "_vec"), "vid")
    top = (
        # the norm rides THIS checkpoint — once per vector, codegen'd
        # when dim is known, instead of once per probe-row in a second
        # checkpointed pass inside the tail (round-12: two checkpoint
        # jobs removed from the 6-probe row's fixture wall)
        top.withColumn(
            "_nrm",
            _norm_u(F.col("_vec"), dim) if _use_unroll(dim) else _norm(F.col("_vec")),
        )
        # feeds BOTH the exploded assignment and the rank-1 report
        .localCheckpoint(eager=False)
    )
    assigned = (
        top.select("vid", "_vec", "_nrm", F.explode("cells").alias("cell_id"))
        # three consumers in the tail (ok agg, pair sides a+b)
        .localCheckpoint(eager=False)
    )
    report = top.select("vid", F.element_at("cells", 1).alias("cell_id"))
    return _semdedup_within_cells(assigned, report, threshold, id_col)


def _top_cells(
    scored: DataFrame,
    key: Column,
    cell,
    n_probe: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, cells, *carry): each vector's ``n_probe`` lowest-``key``
    cells, best first. ``key`` orders a scored (vid, cell) row and
    ``cell`` maps a key back to its cell id; ``carry`` columns ride the
    same groupBy via first() (constant per vid). A per-vector collect
    over the bounded x cells fan-out, not a corpus-wide window."""
    return scored.groupBy("vid").agg(
        F.transform(
            F.slice(F.array_sort(F.collect_list(key)), 1, n_probe), cell
        ).alias("cells"),
        *[F.first(c).alias(c) for c in carry],
    )


def _semdedup_within_cells(
    assigned: DataFrame, report: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """SemDeDup tail over a cell assignment: population-capped
    within-cell cosine pairs, transitive grouping, min-id survivor.

    ``assigned`` is (vid, _vec, _nrm, cell_id), one row per probed cell,
    with the norm computed once per vector upstream. ``report`` is the
    one-row-per-vector (vid, cell_id) frame the final projection joins,
    so output stays one row per vector while pairs generate over every
    probed cell. Pairs sharing several probed cells are NOT pre-deduped
    here: dedup_clusters canonicalizes + distincts its edge set anyway,
    so a pairs-level dropDuplicates was a whole redundant exchange + AQE
    stage job (r10 verdict #6 — fixture-scale wall in this family is
    job-count-dominated)."""
    from databus_spark.operators.dedup import dedup_clusters

    ok = (
        assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where((F.col("_n") >= 2) & (F.col("_n") <= MAX_BUCKET_VECS))
        .select("cell_id")
    )
    paired = assigned.join(F.broadcast(ok), "cell_id")
    # Explicit keyed repartition on BOTH pair sides, pinned at full
    # width (the fuzzy_join_pairs escape, measured here in r14): the
    # assigned table is small in BYTES (~6 MB at sf0.1), so AQE
    # coalesces the self-join's cell_id exchanges to 1-2 partitions —
    # and the per-PAIR interpreted HOF cosine in the join's filter then
    # runs nearly serial (measured on survivors_v2: 10.6 CPU-s of pair
    # sim + partial edge-distinct on 2 tasks = 5.3 s of an 8.5 s wall).
    # AQE sizes stages by map-output bytes and cannot see a join whose
    # OUTPUT and filter cost grow quadratically; a user-specified
    # numPartitions is the documented escape (AQE never coalesces it).
    # The repartitions must sit directly under the join: a checkpointed
    # RDD scans back as UnknownPartitioning, so repartitioning ABOVE
    # the checkpoint is erased and the planner re-exchanges (measured:
    # still a 2-task sim stage in that variant).
    par = assigned.sparkSession.sparkContext.defaultParallelism
    a = paired.select(
        "cell_id", F.col("vid").alias("ida"), F.col("_vec").alias("va"),
        F.col("_nrm").alias("na"),
    ).repartition(par, "cell_id")
    b = paired.select(
        "cell_id", F.col("vid").alias("idb"), F.col("_vec").alias("vb"),
        F.col("_nrm").alias("nb"),
    ).repartition(par, "cell_id")
    pairs = (
        a.join(b, "cell_id")
        .where(F.col("ida") < F.col("idb"))
        .select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            # pair sim stays the HOF fold even when dim is known — now
            # TWICE-measured: the sim >= threshold filter lands in the
            # join, where the unrolled 64-term tree evaluates
            # interpreted and per-PAIR (r11: 17.6 s vs 2.8 s HOF; r12
            # re-measured 40.6 s vs 2.9 s, including behind a
            # nondeterministic projection barrier meant to pin it in a
            # codegen'd ProjectExec — the barrier did not rescue it).
            # The unroll only wins inside codegen'd map-side
            # projections like the assignment scan (r12 A/B: 0.72 s
            # unrolled warm vs 2.7 s HOF on the 256k-row scan).
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .select("doc_a", "doc_b")
    )
    clusters = dedup_clusters(pairs).select(
        F.col("doc_id").alias("vid"), "cluster_id"
    )
    return (
        report.join(clusters, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cell_id",
            F.coalesce(F.col("cluster_id"), F.col("vid")).alias("cluster_id"),
            (F.coalesce(F.col("cluster_id"), F.col("vid")) == F.col("vid")).alias(
                "is_survivor"
            ),
        )
    )


def _sem_within_sql(
    threshold: float, report_cte: str = "assigned", distinct_pairs: bool = False
) -> str:
    """SQL twin of _semdedup_within_cells: the CTE tail (ok -> pairs ->
    edges -> reach -> clusters -> final projection) over a previously
    defined `assigned(vec_id, cell_id)` CTE. Callers must open with
    WITH RECURSIVE (reach is the recursive component). ``report_cte``
    is the one-row-per-vector CTE the final projection reads
    (multi-probe passes its rank-1 CTE)."""
    sim = _cosine_sql("x.embedding", "y.embedding")
    distinct = "DISTINCT " if distinct_pairs else ""
    return f"""
        ok AS (
            SELECT cell_id FROM assigned
            GROUP BY 1 HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_VECS}
        ),
        pairs AS (
            SELECT {distinct}p.vec_id AS doc_a, q.vec_id AS doc_b
            FROM (SELECT a.* FROM assigned a JOIN ok USING (cell_id)) p
            JOIN (SELECT a.* FROM assigned a JOIN ok USING (cell_id)) q
              ON p.cell_id = q.cell_id AND p.vec_id < q.vec_id
            JOIN embeddings x ON x.vec_id = p.vec_id
            JOIN embeddings y ON y.vec_id = q.vec_id
            WHERE round({sim}, 6) >= {threshold}
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
        ),
        clusters AS (
            SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1
        )
        SELECT a.vec_id, a.cell_id,
               coalesce(c.cluster_id, a.vec_id) AS cluster_id,
               coalesce(c.cluster_id, a.vec_id) = a.vec_id AS is_survivor
        FROM {report_cte} a LEFT JOIN clusters c ON c.vec_id = a.vec_id
    """


def semdedup_survivors_sql(threshold: float = SEM_THRESHOLD) -> str:
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'ivf'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")
    return f"""
        WITH RECURSIVE cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {SEM_CELLS}
        ),
        assigned AS (
            SELECT vec_id, cell_id FROM (
                SELECT v.vec_id, c.cell_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                       ) AS rnk
                FROM embeddings v CROSS JOIN cent c
            ) WHERE rnk = 1
        ),
        {_sem_within_sql(threshold)}
    """


SEM_NPROBE = 2  # cells per vector under multi-probe

# The MEASURED production dial (see semdedup_recall_eval + SCALE.md curve)
SEM_EVAL_CELLS = 128
SEM_EVAL_PROBE = 6
SEM_EVAL_ITER = 3
SEM_EVAL_SAMPLE = 512

# -- the joint scale rule, IN the engine (round-12; r11 verdict #1) ---------
# The third-decade study (tools/semdedup_recall_x10.py, SCALE.md) REFUTED
# the previously published rule "n_cells ∝ N at fixed probes": across one
# decade (128 -> 1280 cells at 6 probes) co-location recall collapsed
# 0.87 -> 0.47, because a near-twin's neighborhood fragments across more
# cell boundaries than a fixed probe count covers. The measured joint
# rule: hold per-cell POPULATION with cells (pair-gen cost), and scale
# PROBES with the cell ratio to hold recall. The exponent below is the
# measured decade point: 128/6 -> 1280/24 is probes x4 per cells x10,
# exponent log10(4) ~= 0.602; at that dial the study reads recall 0.977
# at scan 0.348, dominating the equal-scan 640/18 alternative on both
# axes. These functions are the rule as ENGINE BEHAVIOR: n_probe=None on
# the trained-dial operators derives from the actual cell count, and
# semdedup_dial() maps corpus size -> (n_cells, n_probe) off the single
# target_cell_size dial.

SEM_TARGET_CELL = 16  # per-cell population the measured 128-cell sf0.1
#                       dial holds (2,000 vecs / 128 cells ~= 15.6)
SEM_PROBE_EXP = 0.602  # probes ~ ref * (cells/ref_cells)^exp (measured)


def semdedup_probe_for_cells(
    n_cells: int,
    ref_cells: int = SEM_EVAL_CELLS,
    ref_probe: int = SEM_EVAL_PROBE,
    probe_exp: float = SEM_PROBE_EXP,
) -> int:
    """n_probe for a cell count, from the measured joint rule. Exactly
    ref_probe at the reference dial (the fixture configs are unchanged
    by the None-default derivation); floor(x+0.5) rounding, clamped to
    [1, n_cells]."""
    derived = int(ref_probe * (n_cells / ref_cells) ** probe_exp + 0.5)
    return max(1, min(n_cells, derived))


def semdedup_dial(
    n_vecs: int, target_cell_size: int = SEM_TARGET_CELL
) -> tuple[int, int]:
    """(n_cells, n_probe) for a corpus of n_vecs vectors — the one-dial
    form: cells hold per-cell population at target_cell_size (bounds
    within-cell pair generation), probes follow the measured joint rule
    so recall holds across decades. dial(20,000) -> (1250, 24), the
    third-decade study's dominating point (SCALE.md)."""
    n_cells = max(1, int(n_vecs / target_cell_size + 0.5))
    return n_cells, semdedup_probe_for_cells(n_cells)


def semdedup_survivors_v2_sql(
    threshold: float = SEM_THRESHOLD,
    k: int = SEM_EVAL_CELLS,
    n_iter: int = SEM_EVAL_ITER,
    n_probe: int = SEM_EVAL_PROBE,
) -> str:
    """DuckDB twin: shared k-means CTE chain -> integer-key ranking ->
    top-n_probe assignment + rank-1 report -> shared within-cell tail."""
    ctes, n = _kmeans_ctes(k, n_iter)
    return f"""
        WITH RECURSIVE {ctes},
        scored AS (
            SELECT e.vid,
                   CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
                        i -> (e.qv[i] - c.cent[i]) * (e.qv[i] - c.cent[i])))
                        AS BIGINT) * {k} + c.cell_id AS _key
            FROM eq e CROSS JOIN c{n} c),
        ranked AS (
            SELECT vid, _key,
                   row_number() OVER (PARTITION BY vid ORDER BY _key) AS rnk
            FROM scored),
        assigned AS (
            SELECT vid AS vec_id, CAST(_key % {k} AS INT) AS cell_id
            FROM ranked WHERE rnk <= {n_probe}),
        report AS (
            SELECT vid AS vec_id, CAST(_key % {k} AS INT) AS cell_id
            FROM ranked WHERE rnk = 1),
        {_sem_within_sql(threshold, report_cte="report", distinct_pairs=True)}
    """


def semdedup_multiprobe_sql(
    threshold: float = SEM_THRESHOLD, n_probe: int = SEM_NPROBE
) -> str:
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("vec_id", "'ivf'")
    cell_sim = _cosine_sql("v.embedding", "c.cell_vec")
    return f"""
        WITH RECURSIVE cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings ORDER BY {h}, vec_id LIMIT {SEM_CELLS}
        ),
        ranked AS (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({cell_sim}, 6) DESC, c.cell_id ASC
                   ) AS rnk
            FROM embeddings v CROSS JOIN cent c
        ),
        assigned AS (SELECT vec_id, cell_id FROM ranked WHERE rnk <= {n_probe}),
        report AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
        {_sem_within_sql(threshold, report_cte="report", distinct_pairs=True)}
    """


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd) — integer-exact, oracle-reproducible
# ---------------------------------------------------------------------------
# _ivf_centroids' docstring notes it skips "the k-means iterations, which
# would not be bit-reproducible across engines" — float means depend on
# cross-row summation ORDER, which Spark's partial aggregation does not
# fix. This trainer closes that gap by running Lloyd entirely in
# fixed-point integers: clamp dims to [-1, 1] (the normalized-embedding
# contract), shift to [0, 2], floor-quantize at KM_SCALE. Every distance
# is then an exact bigint, every centroid mean an exact non-negative
# integer division (floor == trunc, identical in Spark `div` and DuckDB
# `//`), and the argmin tie-break rides one scalar key (dist*k + cell) —
# both engines produce bit-identical centroids after ANY number of
# rounds. This is the trainer the SemDeDup paper (arXiv:2303.09540)
# assumes for its clustering stage and standard FAISS IVF practice.
#
# Scale shape per round: centroids broadcast (k rows), distance +
# argmin map-side (partial min before the exchange), ONE O(n) shuffle
# for assignment and ONE O(n * dim) posexplode shuffle for the
# dimension sums. No driver round-trips inside the loop — the round
# chain is declarative, barriered with lazy localCheckpoints exactly
# like the staged-index builders. Bigint bounds: dist <= dim *
# (2*KM_SCALE)^2, key = dist*k + cell; dim * k < 2.3e6 stays exact.
# Empty cells drop out (their label disappears; survivors keep theirs),
# the standard Lloyd degeneracy, mirrored exactly by the oracle.

KM_SCALE = 1_000_000
KM_K = 8
KM_ITER = 3


def _km_quant(vec: Column) -> Column:
    return F.transform(
        vec,
        lambda x: F.floor(
            (F.least(F.greatest(x.cast("double"), F.lit(-1.0)), F.lit(1.0)) + F.lit(1.0))
            * F.lit(float(KM_SCALE))
        ).cast("long"),
    )


_KM_QUANT_SQL = (
    "list_transform({vec}, x -> CAST(floor((least(greatest(CAST(x AS DOUBLE),"
    f" -1.0), 1.0) + 1.0) * {KM_SCALE}.0) AS BIGINT))"
)


def _km_frame(
    emb: DataFrame, id_col: str, vec_col: str, raw: str | None = None
) -> DataFrame:
    """(vid, [raw,] qv): the quantized vectors, checkpointed so the scan
    and the quantization run ONCE however many Lloyd rounds, assignments
    or probes read them. ``raw`` names a column that keeps the float
    vector beside its quantization."""
    cols = [F.col(id_col).alias("vid")]
    if raw is not None:
        cols.append(F.col(vec_col).alias(raw))
    return emb.select(*cols, _km_quant(F.col(vec_col)).alias("qv")).localCheckpoint(
        eager=False
    )


def _km_init(embq: DataFrame, k: int) -> DataFrame:
    """k seed centroids by lowest seeded hash of the vector id (the
    _ivf_centroids hash-sample init), renumbered 0..k-1 in hash order so
    cell ids are dense and both engines label identically."""
    from databus_spark.functions.hashes import portable_hash64

    h = portable_hash64(F.col("vid").cast("string"), F.lit("kmeans"))
    seeds = embq.select("vid", "qv", h.alias("_h")).orderBy("_h", "vid").limit(k)
    w = Window.orderBy("_h", "vid")  # k rows: the single-partition window is fine
    return (
        seeds.select(
            (F.row_number().over(w) - 1).cast("int").alias("cell_id"),
            F.col("qv").alias("cent"),
        )
        .localCheckpoint(eager=False)
    )


def _km_scored(
    embq: DataFrame,
    cent: DataFrame,
    k: int,
    dim: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, *carry, _key): every vector against the broadcast
    centroids, scored map-side by the exact key dist*k + cell — squared
    L2 in bigints, so ordering by it ranks centroids by distance with
    ties to the lowest cell, identically in both engines. ``dim`` opts
    into the unrolled codegen distance."""
    dist = (
        _sqdist_u(F.col("qv"), F.col("cent"), dim)
        if _use_unroll(dim)
        else F.aggregate(
            F.zip_with(F.col("qv"), F.col("cent"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    )
    key = dist * F.lit(k).cast("long") + F.col("cell_id").cast("long")
    return embq.crossJoin(F.broadcast(cent)).select("vid", *carry, key.alias("_key"))


def _km_assign(
    embq: DataFrame,
    cent: DataFrame,
    k: int,
    dim: int | None = None,
) -> DataFrame:
    """(vid, qv, cell_id, dist): nearest centroid per vector — argmin
    as a map-side-combinable min over the _km_scored key."""
    return (
        _km_scored(embq, cent, k, dim, ("qv",))
        .groupBy("vid")
        .agg(F.min("_key").alias("_key"), F.first("qv").alias("qv"))
        .select(
            "vid",
            "qv",
            (F.col("_key") % k).cast("int").alias("cell_id"),
            F.expr(f"_key div {int(k)}").alias("dist"),
        )
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cell, dim) exact bigint sums, one integer
    floor-division mean per dim (all values non-negative by the [0, 2]
    shift), arrays reassembled in pos order."""
    dims = assigned.select("cell_id", F.posexplode("qv")).withColumnRenamed("col", "x")
    return (
        dims.groupBy("cell_id", "pos")
        .agg(F.expr("sum(x) div count(1)").alias("c"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cent")
        )
        .localCheckpoint(eager=False)
    )


def _km_train(
    embq: DataFrame, k: int, n_iter: int, dim: int | None = None
) -> DataFrame:
    """Centroids (cell_id, cent) after n_iter exact Lloyd rounds over a
    _km_frame, from the hash-sample init."""
    cent = _km_init(embq, k)
    for _ in range(n_iter):
        cent = _km_update(_km_assign(embq, cent, k, dim=dim))
    return cent


def _km_top_cells(
    embq: DataFrame,
    cent: DataFrame,
    k: int,
    n_probe: int,
    dim: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, cells, *carry): each vector's n_probe nearest centroids,
    nearest first, by the _km_scored key."""
    return _top_cells(
        _km_scored(embq, cent, k, dim, carry),
        F.col("_key"),
        lambda x: (x % k).cast("int"),
        n_probe,
        carry,
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = KM_K,
    n_iter: int = KM_ITER,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Final centroids (cell_id, cent: array<bigint>) after n_iter exact
    Lloyd rounds from the hash-sample init."""
    return _km_train(_km_frame(widen_scan(emb), id_col, vec_col), k, n_iter, dim=dim)


def kmeans_assign(
    emb: DataFrame,
    k: int = KM_K,
    n_iter: int = KM_ITER,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(vid, qv, cell_id, dist) against the given or trained centroids.

    ``centroids`` short-circuits training with a pre-trained
    (cell_id, cent) frame — the staged-model serve path (a clustering
    model trains once at ingest and assigns everywhere; results are
    identical because training is deterministic)."""
    embq = _km_frame(widen_scan(emb), id_col, vec_col)
    if centroids is None:
        centroids = _km_train(embq, k, n_iter, dim=dim)
    return _km_assign(embq, centroids, k, dim=dim)


def _kmeans_ctes(
    k: int = KM_K, n_iter: int = KM_ITER, from_sql: str = "SELECT * FROM embeddings"
) -> tuple[str, int]:
    """Shared DuckDB CTE chain: eq (quantized corpus), c0 (init), then
    a{t} (assignment) / c{t} (update) per round. Returns (ctes_sql,
    n_iter) — consumers select from c{n_iter} or a final assignment.
    ``from_sql`` swaps the training corpus (the incremental oracle
    trains on the base split only)."""
    from databus_spark.functions.hashes import portable_hash64_sql

    h = portable_hash64_sql("CAST(vid AS VARCHAR)", "'kmeans'")
    quant = _KM_QUANT_SQL.format(vec="embedding")
    ctes = [
        f"eq AS MATERIALIZED (SELECT vec_id AS vid, {quant} AS qv FROM ({from_sql}))",
        f"c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY {h}, vid) - 1"
        f" AS INT) AS cell_id, qv AS cent FROM"
        f" (SELECT vid, qv FROM eq ORDER BY {h}, vid LIMIT {k}))",
    ]
    for t in range(1, n_iter + 2):
        # a{n_iter+1} is the final assignment against the trained c{n_iter}
        ctes.append(
            f"a{t} AS MATERIALIZED ("
            f" SELECT vid, any_value(qv) AS qv,"
            f" CAST(min(_key) % {k} AS INT) AS cell_id,"
            f" CAST(min(_key) // {k} AS BIGINT) AS dist"
            f" FROM ("
            f"  SELECT e.vid, e.qv,"
            f"  CAST(list_sum(list_transform(range(1, len(e.qv) + 1),"
            f"   i -> (e.qv[i] - c.cent[i]) * (e.qv[i] - c.cent[i]))) AS BIGINT)"
            f"   * {k} + c.cell_id AS _key"
            f"  FROM eq e CROSS JOIN c{t - 1} c)"
            f" GROUP BY vid)"
        )
        if t <= n_iter:
            ctes.append(
                f"c{t} AS MATERIALIZED ("
                f" SELECT cell_id, list(c ORDER BY pos) AS cent FROM ("
                f"  SELECT cell_id, pos, CAST(sum(x) AS BIGINT) // count(*) AS c"
                f"  FROM (SELECT cell_id, unnest(qv) AS x,"
                f"        unnest(range(0, len(qv))) AS pos FROM a{t})"
                f"  GROUP BY cell_id, pos)"
                f" GROUP BY cell_id)"
            )
    return ", ".join(ctes), n_iter


def kmeans_centroids_sql(k: int = KM_K, n_iter: int = KM_ITER) -> str:
    ctes, n = _kmeans_ctes(k, n_iter)
    return (
        f"WITH {ctes} SELECT cell_id, CAST(pos AS INT) AS pos, c FROM ("
        f"SELECT cell_id, unnest(range(0, len(cent))) AS pos, unnest(cent) AS c"
        f" FROM c{n})"
    )


def kmeans_summary_sql(k: int = KM_K, n_iter: int = KM_ITER) -> str:
    ctes, n = _kmeans_ctes(k, n_iter)
    return (
        f"WITH {ctes} SELECT cell_id, CAST(count(*) AS BIGINT) AS n_members,"
        f" CAST(sum(dist) AS BIGINT) AS inertia FROM a{n + 1} GROUP BY cell_id"
    )


def semdedup_trained_survivors_sql(
    threshold: float = SEM_THRESHOLD,
    k: int = SEM_TRAINED_K,
    n_iter: int = SEM_TRAINED_ITER,
) -> str:
    ctes, n = _kmeans_ctes(k, n_iter)
    return (
        f"WITH RECURSIVE {ctes}, "
        f"assigned AS (SELECT vid AS vec_id, cell_id FROM a{n + 1}), "
        + _sem_within_sql(threshold)
    )


# ---------------------------------------------------------------------------
# ANN self-evaluation: measured recall of the index families vs brute force
# ---------------------------------------------------------------------------
# The ANN sibling of dedup.sketch_eval: score each index family's top-k
# against the exact brute-force cosine top-k on the same queries, one
# confusion row per method with integer micro-unit recall. This is the
# pre-flight a deployment runs on a sample slice before trusting
# N_CELLS/IVF_NPROBE/N_TABLES/N_PLANES at full corpus size — here a
# first-class oracle-checked operator. Truth is bounded (n_queries * k
# rows), so the eval costs ~one brute-force pass over the sample.

def ann_recall_eval(
    emb: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """(method, hits, n_truth, recall_micro) for the ivf and lsh index
    families vs exact cosine top-k; recall = fraction of true top-k
    pairs the index surfaces, floored to micro-units identically in
    both engines."""
    truth = cosine_topk(emb, n_queries, k).select("query_id", "neighbor_id")
    rows = []
    for method, fn in (("ivf", ivf_topk), ("lsh", lsh_topk)):
        pred = fn(emb, n_queries, k).select(
            "query_id", "neighbor_id", F.lit(1).alias("_hit")
        )
        rows.append(
            truth.join(pred, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_truth"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)).cast("long")).alias(
                    "hits"
                ),
            )
            .select(
                F.lit(method).alias("method"),
                "hits",
                "n_truth",
                F.expr("1000000 * hits div greatest(n_truth, 1)").alias(
                    "recall_micro"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# SemDeDup recall eval: the (n_cells, n_probe) dial, measured (r9 ask #3)
# ---------------------------------------------------------------------------
# Closes the family's weakest production number (co-location recall 0.56
# at the r8 hash-sample/2-probe config) with a MEASURED configuration:
# trained centroids + deep multi-probe. Swept on the fixture (numpy
# harness mirroring the exact integer-L2 assignment; full-corpus truth):
#
#   config (centroids, cells, probe)   sf0.01 recall/scan  sf0.1 recall/scan
#   hash-sample, 32, 2   (r8 row)         0.559 / 0.125      —
#   hash-sample, 64, 4                    0.814 / 0.228      0.632 / 0.228
#   trained-L2,  64, 5                    0.932 / 0.328      0.855 / 0.334
#   trained-L2, 128, 6   (pinned here)    1.000 / 0.403      0.870 / 0.257
#
# Trained cells dominate hash-sample at equal scan fraction; 128/6 is
# the frontier point clearing recall 0.8 at BOTH fixture SFs. The eval
# measures over a deterministic hash-sample of vectors (truth is
# all-pairs WITHIN the sample) so its cost is bounded at any corpus
# size — the pre-flight a deployment runs before trusting the dial.



def semdedup_recall_eval(
    emb: DataFrame,
    threshold: float = SEM_THRESHOLD,
    k: int = SEM_EVAL_CELLS,
    n_iter: int = SEM_EVAL_ITER,
    n_probe: int = SEM_EVAL_PROBE,
    sample: int = SEM_EVAL_SAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """One row: (n_pairs, n_true_pairs, n_colocated, recall_micro,
    n_cand_pairs, scan_micro) for the pinned trained+multi-probe
    config. recall = true cosine>=threshold pairs (within the sample)
    whose members share a probed cell; scan = fraction of sample pairs
    sharing a probed cell (the pair-generation cost the cells buy
    down). Integer micro-units via bigint floor-division — both engines
    agree bit-exactly.

    ``centroids`` short-circuits training with a staged (cell_id, cent)
    frame — training is deterministic, so staged == inline (the
    kmeans_assign serve-path contract)."""
    from databus_spark.functions.hashes import portable_hash64

    cent = centroids
    if cent is None:
        cent = kmeans_lloyd(
            emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, dim=dim
        )
    h = portable_hash64(F.col(id_col).cast("string"), seed=F.lit("sdre"))
    # three consumers: probe scoring + both pair sides
    samp = _km_frame(
        emb.orderBy(h.asc(), F.col(id_col).asc()).limit(sample),
        id_col,
        vec_col,
        raw="vec",
    )
    probes = _km_top_cells(samp, cent, k, n_probe, dim=dim)
    side = samp.select("vid", "vec").join(probes, "vid").localCheckpoint(eager=False)
    # stream side repartitioned, build side broadcast (r14): the sample
    # descends from .limit(), which collapses to ONE partition, so the
    # C(sample,2) interpreted unrolled-cosine pair filter ran as a
    # single 4.4 CPU-s task (measured: the whole stage = 4.5 s of a
    # 5.7 s wall). Spreading the 512-row stream side over
    # defaultParallelism and broadcasting the identical 512-row build
    # side turns the cartesian into a full-width BroadcastNestedLoop
    # with the same pair set.
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = side.repartition(par).select(
        F.col("vid").alias("ida"), F.col("vec").alias("va"), F.col("cells").alias("ca")
    )
    b = side.select(
        F.col("vid").alias("idb"), F.col("vec").alias("vb"), F.col("cells").alias("cb")
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("ida") < F.col("idb"))
        .select(
            F.round(
                (
                    _cosine_u(F.col("va"), F.col("vb"), dim)
                    if _use_unroll(dim)
                    else cosine(F.col("va"), F.col("vb"))
                ),
                6,
            ).alias("sim"),
            F.arrays_overlap(F.col("ca"), F.col("cb")).alias("share"),
        )
    )
    t = F.lit(threshold)
    return (
        pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("sim") >= t).cast("long")).alias("n_true_pairs"),
            F.sum(((F.col("sim") >= t) & F.col("share")).cast("long")).alias(
                "n_colocated"
            ),
            F.sum(F.col("share").cast("long")).alias("n_cand_pairs"),
        )
        .select(
            "n_pairs",
            "n_true_pairs",
            "n_colocated",
            F.expr("1000000 * n_colocated div greatest(n_true_pairs, 1)").alias(
                "recall_micro"
            ),
            "n_cand_pairs",
            F.expr("1000000 * n_cand_pairs div greatest(n_pairs, 1)").alias(
                "scan_micro"
            ),
        )
    )


def semdedup_recall_eval_sql(
    threshold: float = SEM_THRESHOLD,
    k: int = SEM_EVAL_CELLS,
    n_iter: int = SEM_EVAL_ITER,
    n_probe: int = SEM_EVAL_PROBE,
    sample: int = SEM_EVAL_SAMPLE,
) -> str:
    """DuckDB twin: the shared k-means CTE chain trains c{n}; the
    sample, probe ranking (same dist*k + cell scalar key), pair sims
    and micro-ratios mirror the Spark expressions exactly."""
    from databus_spark.functions.hashes import portable_hash64_sql

    ctes, n = _kmeans_ctes(k, n_iter)
    h = portable_hash64_sql("CAST(vec_id AS VARCHAR)", "'sdre'")
    quant = _KM_QUANT_SQL.format(vec="embedding")
    cos = _cosine_sql("a.vec", "b.vec")
    return f"""
        WITH RECURSIVE {ctes},
        hs AS MATERIALIZED (
            SELECT vec_id AS vid, embedding AS vec, {quant} AS qv
            FROM embeddings ORDER BY {h}, vec_id LIMIT {sample}),
        scored AS (
            SELECT e.vid,
                   CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
                        i -> (e.qv[i] - c.cent[i]) * (e.qv[i] - c.cent[i])))
                        AS BIGINT) * {k} + c.cell_id AS _key
            FROM hs e CROSS JOIN c{n} c),
        probes AS (
            SELECT vid,
                   list_transform((list_sort(list(_key)))[1:{n_probe}],
                                  x -> CAST(x % {k} AS INT)) AS cells
            FROM scored GROUP BY vid),
        sides AS MATERIALIZED (
            SELECT h.vid, h.vec, p.cells FROM hs h JOIN probes p USING (vid)),
        pairs AS (
            SELECT round({cos}, 6) AS sim,
                   len(list_intersect(a.cells, b.cells)) > 0 AS share
            FROM sides a JOIN sides b ON a.vid < b.vid)
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN sim >= {threshold} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_pairs,
               CAST(sum(CASE WHEN sim >= {threshold} AND share THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_colocated,
               CAST(1000000 * sum(CASE WHEN sim >= {threshold} AND share
                                       THEN 1 ELSE 0 END)
                    // greatest(sum(CASE WHEN sim >= {threshold} THEN 1 ELSE 0 END),
                                1) AS BIGINT) AS recall_micro,
               CAST(sum(CASE WHEN share THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cand_pairs,
               CAST(1000000 * sum(CASE WHEN share THEN 1 ELSE 0 END)
                    // greatest(count(*), 1) AS BIGINT) AS scan_micro
        FROM pairs
    """


def ann_recall_eval_sql(n_queries: int = 10, k: int = 5) -> str:
    """Each method's existing standalone oracle nests as a subquery
    (its internal CTE names scope to the subquery, so `cent`/`banded`
    can't collide across methods — the nested-CTE discipline)."""
    legs = []
    for method, inner in (
        ("ivf", ivf_topk_sql(n_queries, k)),
        ("lsh", lsh_topk_sql(n_queries, k)),
    ):
        legs.append(f"""
        SELECT '{method}' AS method,
               CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits,
               CAST(count(*) AS BIGINT) AS n_truth,
               CAST(1000000 * sum(CASE WHEN p.neighbor_id IS NOT NULL
                                       THEN 1 ELSE 0 END)
                    // greatest(count(*), 1) AS BIGINT) AS recall_micro
        FROM truth t
        LEFT JOIN ({inner}) p
          ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
        """)
    union = " UNION ALL ".join(legs)
    return f"""
        WITH truth AS ({cosine_topk_sql(n_queries, k)})
        {union}
    """


# ---------------------------------------------------------------------------
# Incremental SemDeDup: rolling-ingest embedding dedup against a staged base
# ---------------------------------------------------------------------------
# Completes the incremental family (exact/near/media/substring/DSIR all
# have delta-probes-staged-index rows): incoming vectors are assigned to
# the base-trained cells and probe ONLY the staged rank-1 assignment of
# the base corpus — the base is never re-embedded, re-trained, or
# re-assigned. Probe-side multi-probe (incoming checks its top-n_probe
# cells) recovers the boundary-straddling pairs single assignment
# loses, without widening the staged index. Degenerate base cells past
# MAX_BUCKET_VECS drop from probing, mirroring every pair generator's
# cap. Ranking is (highest rounded sim, lowest base id) — deterministic
# in both engines.

SEM_INC_DELTA_MOD = 5  # fixture split: vec_id % 5 == 0 is the incoming delta


def semdedup_base_index(
    base: DataFrame,
    k: int = SEM_EVAL_CELLS,
    n_iter: int = SEM_EVAL_ITER,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(cell_id, base_id, base_vec): rank-1 trained-cell assignment of
    the base corpus — the materialize-at-ingest artifact
    semdedup_incremental probes (staged next to the centroids)."""
    if centroids is None:
        centroids = kmeans_lloyd(
            base, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, dim=dim
        )
    asg = kmeans_assign(
        base, k=k, centroids=centroids, id_col=id_col, vec_col=vec_col, dim=dim
    )
    return (
        asg.select("vid", "cell_id")
        .join(
            base.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("base_vec")),
            "vid",
        )
        .select("cell_id", F.col("vid").alias("base_id"), "base_vec")
    )


def semdedup_incremental(
    incoming: DataFrame,
    base: DataFrame | None = None,
    threshold: float = SEM_THRESHOLD,
    k: int = SEM_EVAL_CELLS,
    n_iter: int = SEM_EVAL_ITER,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    base_index: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, matched_base, best_sim, is_new) per incoming vector:
    the best base match with cosine >= threshold among the staged base
    members of the incoming vector's top-n_probe trained cells (highest
    rounded sim, ties to the lowest base id), or is_new. ``centroids``
    and ``base_index`` short-circuit training/assignment with the
    staged artifacts; ``base`` is only consulted to build them.
    ``n_probe=None`` derives from ``k`` via the measured joint scale
    rule (semdedup_probe_for_cells), like semdedup_survivors."""
    if n_probe is None:
        n_probe = semdedup_probe_for_cells(k)
    if centroids is None:
        centroids = kmeans_lloyd(
            base, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, dim=dim
        )
    centroids = centroids.localCheckpoint(eager=False)
    if base_index is None:
        base_index = semdedup_base_index(
            base, k=k, id_col=id_col, vec_col=vec_col, centroids=centroids, dim=dim
        )
    # widen the (single-split at fixture scale) delta before the
    # quantize + cell-probe cross join: the per-row HOF distance work
    # ran as ONE task otherwise (r14 stage metrics: four sequential
    # 1-task stages of 0.9-2.1 CPU-s). No-op when the delta arrives
    # already split.
    embq = _km_frame(
        widen_scan(incoming.select(id_col, vec_col)), id_col, vec_col, raw="_vec"
    )
    probe_cells = _km_top_cells(embq, centroids, k, n_probe, dim=dim).select(
        "vid", F.explode("cells").alias("cell_id")
    )
    ok = (
        base_index.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= MAX_BUCKET_VECS)
        .select("cell_id")
    )
    cand = (
        probe_cells.join(F.broadcast(ok), "cell_id")
        .join(base_index, "cell_id")
        .join(embq.select("vid", "_vec"), "vid")
        .select(
            "vid",
            "base_id",
            # HOF pair sim by design (see _semdedup_within_cells note)
            F.round(cosine(F.col("_vec"), F.col("base_vec")), 6).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(threshold))
    )
    best = cand.groupBy("vid").agg(
        F.max_by(
            F.struct(F.col("base_id").alias("b"), F.col("sim").alias("s")),
            F.struct(F.col("sim"), (-F.col("base_id")).alias("_nb")),
        ).alias("_m")
    )
    return (
        embq.select("vid")
        .join(best, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("_m.b").alias("matched_base"),
            F.col("_m.s").alias("best_sim"),
            F.col("_m").isNull().alias("is_new"),
        )
    )


def semdedup_incremental_sql(
    threshold: float = SEM_THRESHOLD,
    k: int = SEM_EVAL_CELLS,
    n_iter: int = SEM_EVAL_ITER,
    n_probe: int = SEM_EVAL_PROBE,
    delta_mod: int = SEM_INC_DELTA_MOD,
) -> str:
    """DuckDB twin: the kmeans CTE chain trains on the BASE split; the
    final a{n+1} assignment is the staged index; incoming vectors rank
    cells by the same dist*k+cell key and left-join their best match."""
    base_sql = f"SELECT * FROM embeddings WHERE vec_id % {delta_mod} <> 0"
    ctes, n = _kmeans_ctes(k, n_iter, from_sql=base_sql)
    quant = _KM_QUANT_SQL.format(vec="embedding")
    cos = _cosine_sql("i.embedding", "b.base_vec")
    return f"""
        WITH RECURSIVE {ctes},
        bidx AS MATERIALIZED (
            SELECT a.cell_id, a.vid AS base_id, e.embedding AS base_vec
            FROM a{n + 1} a JOIN embeddings e ON e.vec_id = a.vid),
        ok AS (
            SELECT cell_id FROM bidx
            GROUP BY 1 HAVING count(*) <= {MAX_BUCKET_VECS}),
        inc AS MATERIALIZED (
            SELECT vec_id AS vid, embedding, {quant} AS qv
            FROM embeddings WHERE vec_id % {delta_mod} = 0),
        scored AS (
            SELECT i.vid,
                   CAST(list_sum(list_transform(range(1, len(i.qv) + 1),
                        j -> (i.qv[j] - c.cent[j]) * (i.qv[j] - c.cent[j])))
                        AS BIGINT) * {k} + c.cell_id AS _key
            FROM inc i CROSS JOIN c{n} c),
        probes AS (
            SELECT vid, CAST(_key % {k} AS INT) AS cell_id
            FROM (SELECT vid, _key,
                         row_number() OVER (PARTITION BY vid ORDER BY _key) AS rnk
                  FROM scored)
            WHERE rnk <= {n_probe}),
        cand AS (
            SELECT p.vid, b.base_id, round({cos}, 6) AS sim
            FROM probes p
            JOIN ok USING (cell_id)
            JOIN bidx b USING (cell_id)
            JOIN inc i ON i.vid = p.vid
            WHERE round({cos}, 6) >= {threshold}),
        m AS (
            SELECT vid, base_id, sim,
                   row_number() OVER (
                       PARTITION BY vid ORDER BY sim DESC, base_id
                   ) AS rnk
            FROM cand)
        SELECT i.vid AS vec_id, m.base_id AS matched_base, m.sim AS best_sim,
               m.base_id IS NULL AS is_new
        FROM inc i LEFT JOIN m ON m.vid = i.vid AND m.rnk = 1
    """
