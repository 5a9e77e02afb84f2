"""tools/soak10x.py stages its derived inputs (the web corpus, the BM25
index, the changelog drain stage and the big-state snapshot) through the
shared staging protocol, keyed on the source's content.

build_soak_fixture rewrites one fixture directory in place for each
--scale, so a stage keyed on the path alone serves the previous scale's
data to the next run. Here each source is rewritten at the same path
with different content, and every prestage must rebuild.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import SF_SMALL  # noqa: E402


def _write_docs(spark, sf_dir: str, texts: list[str]) -> None:
    spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars int",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))


def _write_orders(spark, sf_dir: str, n_keys: int) -> None:
    """The sf0.001 orders table cut to its ``n_keys`` lowest keys."""
    from databus_spark.catalog import load_table

    src = load_table(spark, SF_SMALL, "orders").orderBy("o_orderkey").limit(n_keys)
    src.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_soak_prestages_rebuild_when_the_source_changes(spark, tmp_path, monkeypatch):
    from databus_spark.envelope import orders_changelog
    from databus_spark.operators import text
    from databus_spark.store.snapshot import ParquetSnapshotStore
    from tools import soak10x

    staged = tmp_path / "tmp"
    staged.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(staged))
    sf_dir = str(tmp_path / "sf")
    # the big-state stage drains the small log staged from SF_DIR
    monkeypatch.setattr(soak10x, "SF_DIR", sf_dir)

    def prestage_all():
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        for prestage in (
            soak10x._prestage_web,
            soak10x._prestage_bm25_serve,
            soak10x._prestage_bigstate,  # stages the drain log too
        ):
            prestage(spark, docs, None, sf_dir)
        postings, stats, queries = text.bm25_index_read(
            spark, soak10x._STAGED["bm25idx", sf_dir]
        )
        snap = ParquetSnapshotStore(
            spark, os.path.join(soak10x._STAGED["bigstate", sf_dir], "base")
        ).read()
        stage = spark.read.parquet(soak10x._stream_stage_dir(sf_dir) + "/chunk=*")
        return {
            "web": _rows(soak10x._read_web(spark, sf_dir)),
            "bm25": (_rows(postings), _rows(stats), _rows(queries)),
            "stream": stage.count(),
            "bigstate": snap.count(),
        }

    def expected(n):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        log = orders_changelog(spark, sf_dir)
        fresh = ParquetSnapshotStore(spark, str(tmp_path / f"fresh{n}"))
        fresh.merge(log)
        return {
            "web": _rows(soak10x._web_corpus(docs)),
            "bm25": (
                _rows(text.bm25_postings(docs).select("tok", "doc_id", "tf", "dl", "bkt")),
                _rows(text.bm25_corpus_stats(docs)),
                _rows(text.bm25_query_terms(docs)),
            ),
            "stream": log.count(),
            "bigstate": fresh.read().count(),
        }

    _write_docs(spark, sf_dir, [f"alpha beta gamma delta doc{i} common" for i in range(24)])
    _write_orders(spark, sf_dir, 40)
    first = prestage_all()
    assert first == expected(1)

    # same path, new content: different text under the same ids, fewer orders
    _write_docs(spark, sf_dir, [f"zeta eta theta doc{i} rare{i % 3} words" for i in range(24)])
    _write_orders(spark, sf_dir, 25)
    second = prestage_all()
    assert second == expected(2)
    for name in first:
        assert second[name] != first[name], name


def test_soak_media_family_stages_through_the_media_corpus(spark, tmp_path, monkeypatch):
    """fam_media_dhash and its prestage hook stage the image corpus
    through registry._staged_media_corpus: both run, and the second
    call reuses what the first staged."""
    from tools import soak10x

    staged = tmp_path / "tmp"
    staged.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(staged))
    sf_dir = str(tmp_path / "sf")
    _write_docs(spark, sf_dir, [f"doc{i}" for i in range(16)])
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    soak10x.fam_media_dhash.prestage(spark, docs, None, sf_dir)
    (art,) = [p for p in staged.glob("databus_phash_*") if p.is_dir()]
    marker = (art / "_COMPLETE").stat().st_mtime_ns
    soak10x.fam_media_dhash(spark, docs, None, sf_dir)
    assert (art / "_COMPLETE").stat().st_mtime_ns == marker
