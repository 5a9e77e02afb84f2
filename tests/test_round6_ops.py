"""Round-6 operators: python-reference differentials and properties
beyond the DuckDB oracle checks (which prove cross-engine agreement,
not that BOTH engines aren't wrong the same way)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from databus_spark.catalog import load_table


def test_bpe_pair_counts_matches_python_reference(spark, sf_dir):
    """The merge ranking equals a direct python count of adjacent
    whitespace-token pairs, including the (count DESC, pair ASC) order."""
    from databus_spark.operators.text import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    ref = Counter()
    for t in texts:
        toks = t.strip().lower().split()
        ref.update(" ".join(p) for p in zip(toks, toks[1:]))
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r["pair"], r["n"]) for r in bpe_pair_counts(docs).collect()]
    assert got == want


def test_split_assign_is_content_keyed_and_stable(spark, sf_dir):
    """Leakage safety + growth stability: byte-identical texts share a
    split; a doc's assignment is unchanged when the corpus doubles."""
    from databus_spark.operators.shards import split_assign

    docs = load_table(spark, sf_dir, "documents")
    twins = docs.unionByName(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text",
                    "lang", "source", "n_chars")
    )
    rows = {r["doc_id"]: r["split"] for r in split_assign(twins).collect()}
    n = docs.count()
    for doc_id in list(rows):
        if doc_id >= 10_000_000:
            assert rows[doc_id] == rows[doc_id - 10_000_000], "twin split leak"
    base = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    assert all(rows[k] == v for k, v in base.items()), "growth moved assignments"
    # all three splits populated with roughly the configured shares
    shares = Counter(base.values())
    assert set(shares) == {"train", "val", "test"}
    assert shares["train"] / n > 0.6


def test_hll_parity_at_sf01(spark):
    """The sf0.1 leg of the 'parity verified at sf0.1 too' claim for
    the new sketch (the raw-estimator branch engages only there)."""
    from databus_spark.registry import ORACLES, QUERIES
    from tests.oracle_utils import compare, duck_connect

    con = duck_connect("/root/testdata/sf0.1")
    try:
        compare(
            QUERIES["hll_distinct_users"](spark, "/root/testdata/sf0.1"),
            con,
            ORACLES["hll_distinct_users"],
        )
    finally:
        con.close()


def test_binned_quantiles_within_bin_width(spark, sf_dir):
    """The histogram estimate can be off by at most ~one bin width of
    the value range (interpolation inside the straddling bin)."""
    from databus_spark.operators.stats import QB_BINS, binned_quantiles

    e = load_table(spark, sf_dir, "events").select("value")
    mm = e.agg(F.min("value"), F.max("value")).collect()[0]
    bin_w = (mm[1] - mm[0]) / QB_BINS
    for r in binned_quantiles(e, "value").collect():
        assert r["abs_err"] <= bin_w, (r["q"], r["abs_err"], bin_w)


def _near_recall_case(spark, sf_dir, family):
    """(batch pairs, delta probe, is_delta) for one banded-LSH family:
    the batch pair generator runs over the whole corpus, the incremental
    probe matches the delta docs against a band index of the rest."""
    from databus_spark.operators import dedup

    if family == "minhash":
        corpus = dedup.documents_with_dups(spark, sf_dir)
        incoming = corpus.where(F.col("doc_id") >= 1_000_000)
        base = load_table(spark, sf_dir, "documents")
        probe = dedup.incremental_near_dedup(incoming, base)
        return dedup.minhash_lsh_pairs(corpus, k=5), probe, lambda d: d >= 1_000_000
    from databus_spark.operators.multimodal import image_dhash, synth_phash_corpus

    sig = image_dhash(synth_phash_corpus(load_table(spark, sf_dir, "documents")))
    in_delta = F.col("doc_id") % 5 == 0
    bands = dedup.bithash_bands(sig.where(~in_delta), "dhash", 56, 2, "base_doc")
    probe = dedup.incremental_bithash_dedup(sig.where(in_delta), bands, 56)
    return dedup.bithash_near_pairs(sig, "dhash", 56), probe, lambda d: d % 5 == 0


@pytest.mark.parametrize("family", ["minhash", "dhash"])
def test_incremental_near_matches_batch_lsh_semantics(spark, sf_dir, family):
    """Every delta doc the in-corpus LSH pair generator links to a base
    doc must also be matched by the incremental probe (same bands, same
    signatures — the incremental index loses no recall vs batch), for
    the MinHash family and a bit-hash family (image dHash)."""
    pairs, probe, is_delta = _near_recall_case(spark, sf_dir, family)
    batch_matched = {
        r["doc_a"] if is_delta(r["doc_a"]) else r["doc_b"]
        for r in pairs.collect()
        if is_delta(r["doc_a"]) != is_delta(r["doc_b"])
    }
    inc = {r["doc_id"] for r in probe.where(~F.col("is_new")).collect()}
    assert batch_matched and batch_matched <= inc


def test_boilerplate_strip_semantics(spark):
    """Injected boilerplate (global header/footer, per-group banner) is
    stripped; unique body lines survive in order; empty lines are never
    boilerplate."""
    from databus_spark.operators.text import boilerplate_strip

    rows = []
    for i in range(40):
        body = f"unique body line {i}"
        rows.append((i, f"HEADER\n\nsite: {'a' if i % 2 else 'b'}\n{body}\nFOOTER"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in boilerplate_strip(docs, min_docs=10).collect()}
    assert len(out) == 40
    import hashlib

    for i, r in out.items():
        assert r["n_lines"] == 5
        # HEADER + site banner + FOOTER are boiler; body + empty survive
        assert r["n_boiler"] == 3
        kept = f"\nunique body line {i}"
        assert r["n_kept_chars"] == len(kept)
        assert r["kept_md5"] == hashlib.md5(kept.encode()).hexdigest()


def test_boilerplate_strip_below_threshold_kept(spark):
    from databus_spark.operators.text import boilerplate_strip

    docs = spark.createDataFrame(
        [(0, "rare\nbody0"), (1, "rare\nbody1"), (2, "solo\nbody2")],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r["n_boiler"] for r in boilerplate_strip(docs, min_docs=3).collect()}
    assert out == {0: 0, 1: 0, 2: 0}  # df=2 < 3: nothing stripped


def test_pii_redact_ipv4_class(spark):
    """r7 adds IPv4 to the redaction family: counted, replaced with
    <IP>, and never confused with the phone pattern (dots break it)."""
    from databus_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "mail a@b.com and c.d+x@e-f.org from 192.168.0.1 done"),
            (1, "no pii here"),
            (2, "ip only 10.0.0.255"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert (out[0]["n_email"], out[0]["n_ip"]) == (2, 1)
    assert (out[1]["n_email"], out[1]["n_ip"]) == (0, 0)
    assert (out[2]["n_email"], out[2]["n_ip"]) == (0, 1)
    assert out[0]["redacted_text"] == "mail <EMAIL> and <EMAIL> from <IP> done"
    assert out[2]["redacted_text"] == "ip only <IP>"


def test_pii_redact_zero_shuffle_plan(spark, sf_dir):
    """PII redaction is a pure projection — a KEYED shuffle here would
    be a plan regression (it must push down to a per-file scan at
    100 TB). The single allowed exchange is widen_scan's deliberate
    round-robin input guard (r14: spreads the 8 regex passes off a
    single-split fixture scan; a no-op at production split counts)."""
    from databus_spark.registry import QUERIES

    plan = (
        QUERIES["pii_redact"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_ex = plan.count("Exchange")
    assert n_ex <= 1, plan[:600]
    if n_ex:
        assert "RoundRobinPartitioning" in plan, (
            "pii_redact's only exchange must be the round-robin widen "
            "guard, found a keyed shuffle:\n" + plan[:600]
        )


def test_bpe_learn_merges_semantics(spark):
    """Greedy merge learning: rule 1 is the modal pair; later rounds
    count pairs over the REWRITTEN corpus, so a rule can chain onto an
    earlier merged token (the structural (a,b) representation — a
    joined pair string could not be decomposed once tokens contain
    spaces)."""
    from databus_spark.operators.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [
            (0, "new york city has new york style pizza in new york"),
            (1, "the new york subway and the new york harbor"),
            (2, "tok tok tok tok tok"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["rank"]: (r["pair"], r["n"]) for r in bpe_learn_merges(docs, 3).collect()}
    assert got[1] == ("new york", 5)
    assert got[2] == ("tok tok", 4)  # run of 5: four adjacent pairs at adoption
    assert got[3] == ("the new york", 2)  # chains onto round-1's merged token


def test_bpe_learn_merges_two_pass_application(spark):
    """The delimited-replace application reaches the maximal disjoint
    matching: in 'a b a b a b' every (a, b) pair merges even though a
    single replace pass would skip the occurrence whose leading
    delimiter the previous match consumed."""
    from databus_spark.operators.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [(0, "x y x y x y x y")], "doc_id BIGINT, text STRING"
    )
    got = {r["rank"]: (r["pair"], r["n"]) for r in bpe_learn_merges(docs, 2).collect()}
    assert got[1] == ("x y", 4)
    # all four (x,y) pairs merged -> round 2 sees [xy, xy, xy, xy]
    assert got[2] == ("x y x y", 3)
