"""Shared machine-local fixture cache.

r7 verdict follow-up: the landed-fingerprint table was the second
engine-written fixture root beside the binmedia files, "worth a
single shared fixture-root helper if a third appears" — the r8
IVF-PQ index fixture is the third, so the path and atomicity
discipline now lives here. Layout: ``/tmp/spark_graft_<kind>/<key>``
where ``key`` hashes the CONTENT identity — the source file's
(path, size, mtime) plus the generating formula text, or the
generator parameters — so editing a formula can never silently
reuse a stale cache. All writers are pure Python (duckdb / file
I/O, no Spark jobs at construction) and use write-to-temp +
``os.replace`` so concurrent constructions race benignly.
``duckdb_fixture`` is that whole sequence for parquet fixtures
derived from one source file.
"""

from __future__ import annotations

import hashlib
import os
import tempfile


def content_key(*parts) -> str:
    """16-hex-char md5 over ':'-joined identity parts (source path,
    size, mtime_ns, formula text, ...)."""
    return hashlib.md5(
        ":".join(str(p) for p in parts).encode()
    ).hexdigest()[:16]


def fixture_dir(kind: str, key: str) -> str:
    """The (created) cache directory for one fixture identity."""
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}", key)
    os.makedirs(d, exist_ok=True)
    return d


def atomic_write_bytes(path: str, payload: bytes) -> None:
    """Write ``payload`` to ``path`` via temp + atomic rename. The
    temp name is DOT-PREFIXED so glob-filtered scans of the fixture
    dir (e.g. binaryFile pathGlobFilter "img_*") can never observe an
    in-flight temp file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp{os.getpid()}")
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, path)


def duckdb_fixture(kind: str, src: str, salt: tuple, selects: dict) -> dict:
    """Materialize each DuckDB query in ``selects`` (name → SELECT) as
    ``<name>.parquet`` once per identity of the parquet file ``src``:
    its (absolute path, size, mtime_ns) followed by ``salt`` (the
    formula text and parameters). Returns name → path. The queries
    may read the source as the view ``src``. Steady state is one
    ``os.stat`` and one exists-check per file, and no Spark job."""
    st = os.stat(src)
    key = content_key(os.path.abspath(src), st.st_size, st.st_mtime_ns, *salt)
    base = fixture_dir(kind, key)
    paths = {n: f"{base}/{n}.parquet" for n in selects}
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{src}')")
    for name, sql in selects.items():
        tmp = f"{paths[name]}.tmp{os.getpid()}"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, paths[name])
    return paths
