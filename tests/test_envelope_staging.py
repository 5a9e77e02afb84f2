"""The bench-only staged-changelog path must be row-identical to the
direct derivation — bench correctness rides on it (envelope._staged)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def staged_env(monkeypatch):
    import databus_spark.envelope as env

    monkeypatch.setenv("DATABUS_CACHE_CHANGELOGS", "1")
    # fresh stage dir for the test, restored after
    monkeypatch.setattr(env, "_STAGE_ROOT", None)
    yield
    monkeypatch.setattr(env, "_STAGE_ROOT", None)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_staged_equals_direct(spark, sf_dir, staged_env):
    import os

    from databus_spark.envelope import multi_source_changelog, orders_changelog

    staged = multi_source_changelog(spark, sf_dir)
    staged_rows = _rows(staged)

    os.environ.pop("DATABUS_CACHE_CHANGELOGS")
    direct = multi_source_changelog(spark, sf_dir)
    assert staged.columns == direct.columns
    assert staged_rows == _rows(direct)

    # dtypes survive the parquet round trip (ts stays a timestamp etc.)
    os.environ["DATABUS_CACHE_CHANGELOGS"] = "1"
    assert orders_changelog(spark, sf_dir).dtypes == direct.sparkSession.createDataFrame(
        [], orders_changelog(spark, sf_dir).schema
    ).dtypes


def test_staged_writes_once(spark, sf_dir, staged_env):
    import os

    import databus_spark.envelope as env

    env.orders_changelog(spark, sf_dir)
    root = env._STAGE_ROOT
    assert root is not None
    dirs = os.listdir(root)
    assert len(dirs) == 1
    mtime = os.path.getmtime(os.path.join(root, dirs[0], "_SUCCESS"))
    env.orders_changelog(spark, sf_dir)  # second call reads, no rewrite
    assert os.path.getmtime(os.path.join(root, dirs[0], "_SUCCESS")) == mtime


def test_bpe_staged_fingerprint_sees_text_content(spark):
    """A regenerated documents fixture with IDENTICAL doc_ids and
    n_chars but different text must change the staged-rules
    fingerprint (the r9 ADVICE finding: an id+length fingerprint
    serves a stale tokenizer)."""
    from pyspark.sql import functions as F

    from databus_spark.registry import _content_fingerprint

    def fp(df):
        return _content_fingerprint(
            df.withColumn(
                "_tcrc",
                F.crc32(
                    F.concat_ws(
                        "|", F.col("doc_id").cast("string"), F.col("text")
                    ).cast("binary")
                ),
            ),
            "doc_id",
            "n_chars",
            "_tcrc",
        )

    a = spark.createDataFrame(
        [(1, "aaaa bbbb", 9), (2, "cccc dddd", 9)],
        "doc_id long, text string, n_chars long",
    )
    b = spark.createDataFrame(
        [(1, "aaaa cccc", 9), (2, "cccc eeee", 9)],  # same ids, same lengths
        "doc_id long, text string, n_chars long",
    )
    assert fp(a) == fp(a)
    assert fp(a) != fp(b)


def test_stage_root_is_removed_at_exit(sf_dir, tmp_path):
    """Each process's stage root is scratch: it must not outlive the
    process that made it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "import databus_spark.envelope as env\n"
        "from databus_spark.session import build_session\n"
        "spark = build_session('stage_root_exit', cpus=1)\n"
        f"env.orders_changelog(spark, {sf_dir!r})\n"
        "print(env._STAGE_ROOT)\n"
    )
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {**os.environ, "TMPDIR": str(tmpdir), "DATABUS_CACHE_CHANGELOGS": "1"}
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stage_root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(stage_root) == str(tmpdir)  # it was made under TMPDIR
    assert [p for p in os.listdir(tmpdir) if p.startswith("databus_staged_")] == []
