"""Every queries() entry with an oracle must match DuckDB — this is a
local replica of the driver's correctness gate (CORRECTNESS_r{N}.json).

Runs at sf0.001 by default (fast); set SPARK_GRAFT_TEST_SF_DIR to
/root/testdata/sf0.01 to replicate the gate exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402
from tests.oracle_utils import assert_frames_match  # noqa: E402

ALL_QUERIES = entrymod.queries()
ALL_ORACLE = entrymod.oracle_sql()
CHECKED = sorted(k for k in ALL_QUERIES if k in ALL_ORACLE)
ROWS_ONLY = sorted(k for k in ALL_QUERIES if k not in ALL_ORACLE)


def _dtype_family(dt) -> str:
    s = str(dt)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    if s.startswith("datetime"):
        return "ts"
    if s == "bool":
        return "bool"
    return "obj"


@pytest.mark.parametrize("name", CHECKED)
def test_query_matches_oracle(spark, oracle_con, name):
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    oracle_pdf = oracle_con(SF_DIR).execute(ALL_ORACLE[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)
    # The driver's value-hash is dtype-sensitive where this replica's
    # canonicalizer is not (int 1 == float 1.0 here, hash-mismatch
    # there — the round-2 q67 bug class). Pin dtype FAMILIES so a
    # DuckDB HUGEINT->float64 or INT-width drift fails locally first.
    fams = {
        c: (_dtype_family(spark_pdf[c].dtype), _dtype_family(oracle_pdf[c].dtype))
        for c in sorted(spark_pdf.columns)
    }
    drift = {c: f for c, f in fams.items() if f[0] != f[1]}
    assert not drift, (
        f"{name}: dtype-family drift (spark, oracle): {drift} — add a "
        "::BIGINT/::INT/::DOUBLE cast to the oracle or cast the Spark side"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


def test_every_entry_is_oracle_backed_except_known_rows_only():
    """Guard: a new queries() entry without an oracle_sql() twin drops
    silently to the driver's weaker rows-only check — keep that set
    explicit so coverage loss is a deliberate decision, not a drift.
    (q29 gained a checkable contract in round 4 — exact counts + a
    within-bound flag — so the set is now empty: every one of the
    registry's entries is hash-verifiable.)"""
    assert set(ROWS_ONLY) == set(), ROWS_ONLY


def test_registry_import_failure_is_loud():
    """A module that fails to import must fail queries(), not silently
    drop its entries from the registry."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        'sys.modules["etl_mapwarper_spark.operators.pandas_ops"] = None\n'
        "import __spark_entry__\n"
        "try:\n"
        "    print(len(__spark_entry__.queries()))\n"
        "except ImportError as exc:\n"
        '    sys.exit(f"ImportError: {exc}")\n'
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True
    )
    assert proc.returncode != 0, proc.stdout
    assert "ImportError" in proc.stderr, proc.stderr


def test_registry_names_order_and_oracle_text_pinned():
    """Names, their order (the first 50 are the driver window) and every
    oracle SQL text are pinned; a registry change updates the digests on
    purpose."""
    assert len(ALL_QUERIES) == len(ALL_ORACLE) == 272
    names = hashlib.sha256("\n".join(ALL_QUERIES).encode()).hexdigest()
    oracle = hashlib.sha256(json.dumps(list(ALL_ORACLE.items())).encode()).hexdigest()
    assert names == "58de9ba228886ba2a8802948f654b28ec9fe0b4750d89bb4913ffebe9f5e6f9c"
    assert oracle == "0bb9e5f11d80f4a3e7389e24d1e13aa6a4141732436e10e957cc02f24fab0d4e"
