"""Regression tests for tools/check_oracles.py itself — the round-3
lesson (VERDICT.md r3 "What's wrong" #3) was that the checker's
tolerant float compare predicted green while the driver's exact
stringified hash went red.  The checker's default compare must now
reproduce that red on a synthetically perturbed oracle."""

import importlib.util
import sys
from pathlib import Path


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "check_oracles",
        Path(__file__).resolve().parents[1] / "tools" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["check_oracles"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_exact_mode_catches_one_ulp_perturbation():
    """The r3 unigram red started as a 1-ulp libm drift — a
    perturbation far inside the old 1e-12 rel_tol, but one that
    stringifies (and therefore driver-hashes) differently.  Exact mode
    must flag it; tolerant mode (documented diagnostic) must NOT,
    proving the two modes differ exactly where r3 hurt."""
    import math
    t = _load_tool()
    cols = ["doc_id", "nll"]
    v = 7.123456
    ulp = math.nextafter(v, 8.0)
    assert str(v) != str(ulp)  # the driver's hash sees them apart
    spark_rows = [(1, v), (2, 8.25)]
    oracle_rows = [(1, ulp), (2, 8.25)]
    assert t.compare(cols, spark_rows, cols, oracle_rows, exact=True)
    assert not t.compare(cols, spark_rows, cols, oracle_rows, exact=False)


def test_exact_mode_catches_post_round_boundary_flip():
    """...and when that ulp lands on a .5 boundary before round(x, 6),
    the visible 1e-6 flip must fail BOTH modes."""
    t = _load_tool()
    cols = ["doc_id", "nll"]
    spark_rows = [(1, 7.123456)]
    oracle_rows = [(1, 7.123457)]
    assert t.compare(cols, spark_rows, cols, oracle_rows, exact=True)
    assert t.compare(cols, spark_rows, cols, oracle_rows, exact=False)


def test_exact_mode_catches_int_vs_float_drift():
    t = _load_tool()
    cols = ["k", "v"]
    assert t.compare(cols, [(1, 99111)], cols, [(1, 99111.0)], exact=True)


def test_exact_mode_green_on_identical_bits():
    t = _load_tool()
    cols = ["k", "v"]
    rows = [(1, 7.123456), (2, None), (3, "x")]
    assert not t.compare(cols, rows, cols, list(rows), exact=True)


def test_row_count_and_schema_still_checked():
    t = _load_tool()
    assert t.compare(["a"], [(1,)], ["b"], [(1,)], exact=True)
    assert t.compare(["a"], [(1,)], ["a"], [(1,), (2,)], exact=True)


def test_arrow_fetch_surfaces_hugeint_as_float():
    """Oracle rows come through fetch_arrow_table() like the driver's:
    a DuckDB HUGEINT sum arrives as decimal128 -> float, so an int64
    Spark column against it is red (fetchall() would hand back an int
    and hide the driver red, as it did for unigram_logprob_docs)."""
    import duckdb
    t = _load_tool()
    con = duckdb.connect()
    sql = "SELECT sum(x) AS n FROM range(4) t(x)"
    assert con.execute(sql).fetchall() == [(6,)]
    cols, rows = t.arrow_rows(con.execute(sql))
    assert cols == ["n"]
    assert t.compare(["n"], [(6,)], cols, rows, exact=True)
    cols, rows = t.arrow_rows(con.execute(
        "SELECT CAST(sum(x) AS BIGINT) AS n FROM range(4) t(x)"))
    assert not t.compare(["n"], [(6,)], cols, rows, exact=True)
    assert t.arrow_rows(con.execute(
        "SELECT 1 AS a, 'x' AS b WHERE false")) == (["a", "b"], [])


def test_query_list_names_only_the_unknown_entries():
    """The query argument is a comma-separated list; a name that is
    not a queries() key stops the tool before any Spark session
    starts, naming only the unknown entries."""
    import os
    import subprocess
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracles.py"),
         "/nonexistent", "lsh_pairs_docs,no_such_gate,dup_clusters_docs"],
        capture_output=True, text=True, timeout=120, cwd=root)
    assert out.returncode != 0
    assert "unknown query names: no_such_gate" in out.stderr
    assert "comparison mode" not in out.stdout
