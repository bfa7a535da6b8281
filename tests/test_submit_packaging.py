"""Packaging surface for the north_rule's spark-submit shape.

The full flow — ``python tools/make_submit_zip.py`` then
``spark-submit --py-files dist/pandarus_spark.zip
tools/submit_overlay_job.py …`` against two pages parquet tables, run
twice to prove ledger resume — is driven end-to-end in the verify
recipe (BASELINE.md records the golden measure sums).  These tests pin
the cheap invariants: the zip is importable ALONE (no repo on the
path, the exact situation an executor is in), and ``read_pages_table``
dispatches/validates identifiers correctly.
"""

import os
import subprocess
import sys

import pytest

from pandarus_spark.sources.pages import PAGES_COLUMNS, pages_df, read_pages_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_submit_zip_imports_standalone(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from make_submit_zip import build
    finally:
        sys.path.pop(0)
    zip_path = build(str(tmp_path / "pandarus_spark.zip"))
    # a clean interpreter with ONLY the zip on sys.path must import the
    # package and reach a representative symbol from every subpackage
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from pandarus_spark.operators.intersect import intersect\n"
        "from pandarus_spark.sources.pages import read_pages_table\n"
        "from pandarus_spark.plans.checkpoint import CheckpointLedger\n"
        "from pandarus_spark.geometry.geom import wkb_dumps\n"
        "print('ok')\n")
    out = subprocess.run([sys.executable, "-c", code, zip_path],
                         capture_output=True, text=True, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_read_pages_table_parquet_and_validation(spark, tmp_path):
    p = str(tmp_path / "pages")
    pages_df(spark, "grid").write.parquet(p)
    back = read_pages_table(spark, p)
    assert back.count() == 4
    assert list(back.columns) == list(PAGES_COLUMNS)
    # explicit parquet: prefix reads the same table
    assert read_pages_table(spark, f"parquet:{p}").count() == 4

    bad = str(tmp_path / "bad")
    pages_df(spark, "grid").drop("html").write.parquet(bad)
    with pytest.raises(ValueError, match="missing columns.*html"):
        read_pages_table(spark, bad)


def test_read_pages_table_iceberg_requires_jars(spark):
    # the sandbox has no iceberg-spark-runtime: the path must fail
    # loudly with the actionable message, not silently fall back
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_pages_table(spark, "iceberg:catalog.db.pages")


def test_pages_table_roundtrip_gate_without_iceberg(spark):
    """Round-2 verdict #9: the `pages_table_roundtrip` gate must run
    green in THIS environment (no iceberg-spark-runtime) through the
    tested parquet fallback, and iceberg_available must say why."""
    import __spark_entry__ as E
    from pandarus_spark.sources.pages import iceberg_available

    assert iceberg_available(spark) is False  # sandbox has no runtime
    out = E.queries()["pages_table_roundtrip"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) == 200
    assert all(r["lang"] == "en" for r in rows)
    assert {r["url"] for r in rows} == {
        f"https://example.test/base/{d}" for d in range(200)}


def test_apply_engine_confs_matches_build_session(spark):
    """The spark-submit path (bare getOrCreate + apply_engine_confs)
    must land the same runtime plan-shape confs build_session sets, so
    the packaged job and the library sessions plan identically."""
    from pandarus_spark.session import apply_engine_confs, engine_sql_confs

    applied = apply_engine_confs(spark, shuffle_partitions=16)
    assert applied == engine_sql_confs(False, 16)
    for k, v in applied.items():
        assert spark.conf.get(k) == v
    # local master keeps the stock 64m advisory (env-overridable for
    # broadcast-disabled runs — r5 continuation); cluster tightens it
    assert applied["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "64m"
    # cluster flavor carries the Arrow-refine advisory fix + 64m broadcast
    cl = engine_sql_confs(True, 8)
    assert cl["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "16m"
    assert cl["spark.sql.autoBroadcastJoinThreshold"] == "64m"
    assert cl["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "64"
    # restore the conftest session's width (conftest.py pins 4)
    apply_engine_confs(spark, shuffle_partitions=4)


def test_default_local_heap_is_half_the_host_capped_at_48g():
    from pandarus_spark.session import default_local_heap
    assert default_local_heap(128 * 2**30) == "49152m"   # the 48g cap
    assert default_local_heap(15 * 2**30) == "7680m"
    assert default_local_heap(2**30) == "512m"
    mb = int(default_local_heap()[:-1])                  # the running host
    assert 0 < mb <= 48 * 1024
