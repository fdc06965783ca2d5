"""Driver-gate replica: run registry entries EXACTLY the way the
external driver does — a vanilla SparkSession (no tuned session
factory), sf0.01 parquet, DuckDB oracle side-by-side, sorted-column
value comparison.

Usage:
  python tools/gate_replica.py            # first 50 entries (the window)
  python tools/gate_replica.py all        # every registry entry
  python tools/gate_replica.py name1 ...  # specific entries

Invariance knobs (each an env var; unset = driver-faithful vanilla):
``GATE_SHUFFLE_PARTITIONS`` + ``GATE_MASTER`` (parallelism sweep,
r10; the master defaults to local[$SPARK_GRAFT_CPUS, else all cores]),
``GATE_AQE=false`` (adaptive-re-planning sweep, r11),
``GATE_MAX_PARTITION_BYTES=65536`` (input-split sweep, r12 — values
must not depend on how file scans split into read tasks).

``GATE_CHUNK=N`` restarts the vanilla session every N entries. The
external driver never runs more than one 50-entry window per session,
so a chunked sweep is the driver-faithful shape for the FULL registry;
one 260-entry session accumulates broadcasts/checkpoint state in the
default-size (1 GiB) vanilla JVM heap until a heavy entry OOMs (seen
r6: dd_containment died at entry 72 of an sf0.1 all-sweep but passes
solo and in any 50-entry window).

Exit code 1 if anything mismatches or raises.
"""

import json
import os
import sys


def _vanilla_session():
    from pyspark.sql import SparkSession

    # Same default as etl_mapwarper_spark.session.get_spark.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    b = (
        SparkSession.builder.master(os.environ.get("GATE_MASTER", f"local[{cpus}]"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Parallelism-invariance sweeps (r10): results must not depend on
    # the shuffle-partition count — a dependence means some operator
    # leaks physical layout (partition ids, per-partition order) into
    # values, the same defect class the retry-determinism lint pins
    # statically. Unset = the driver-faithful vanilla default.
    shp = os.environ.get("GATE_SHUFFLE_PARTITIONS")
    if shp:
        b = b.config("spark.sql.shuffle.partitions", shp).config(
            "spark.default.parallelism", shp
        )
    # AQE-off invariance sweeps (r11): results must not depend on
    # adaptive runtime re-planning either — AQE coalesces partitions,
    # converts joins to broadcast, and splits skewed partitions
    # mid-query, so a value difference with AQE off means some
    # operator leaks the physical plan choice into values. Unset =
    # the driver-faithful vanilla default (AQE on).
    aqe = os.environ.get("GATE_AQE")
    if aqe:
        # normalize up front: an unrecognized value would otherwise
        # fail deep inside session build with an opaque
        # IllegalArgumentException (r11 advice item)
        norm = {
            "true": "true", "1": "true", "on": "true", "yes": "true",
            "false": "false", "0": "false", "off": "false", "no": "false",
        }.get(aqe.strip().lower())
        if norm is None:
            raise SystemExit(
                f"GATE_AQE={aqe!r} not understood; use true/false "
                "(also accepted: 1/0, on/off, yes/no)"
            )
        b = b.config("spark.sql.adaptive.enabled", norm)
    # Input-split invariance sweeps (r12): results must not depend on
    # how file scans are split into read tasks either —
    # maxPartitionBytes forced tiny (e.g. 65536) multiplies the number
    # of scan partitions, so a value difference means some operator
    # leaks read-task boundaries (per-partition order, partition ids)
    # into values. The read-side complement to the shuffle-partition
    # sweep. Unset = the driver-faithful vanilla default (128 MiB).
    mpb = os.environ.get("GATE_MAX_PARTITION_BYTES")
    if mpb:
        if not mpb.isdigit() or int(mpb) <= 0:
            raise SystemExit(
                f"GATE_MAX_PARTITION_BYTES={mpb!r} not understood; "
                "use a positive byte count, e.g. 65536"
            )
        b = b.config("spark.sql.files.maxPartitionBytes", mpb).config(
            # openCostInBytes pads each file's size when packing
            # splits into tasks; at its 4 MiB default it would swamp a
            # tiny maxPartitionBytes and the sweep would not actually
            # multiply scan partitions on small test files
            "spark.sql.files.openCostInBytes",
            "0",
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _relaunch_session(old):
    """Tear down a (possibly dead) session and launch a genuinely
    fresh JVM.

    When a chunk JVM dies mid-entry (heap OOM on a heavy entry —
    the dd_containment class), PySpark keeps the dead gateway cached
    on SparkContext/SparkSession, so a plain stop()+getOrCreate()
    dials the corpse and every remaining entry in the sweep fails
    with ConnectionRefused (r12: two full sf0.1 sweeps lost this
    way). Clearing the cached gateway/JVM handles makes the next
    builder call fork a new JVM, so a sweep survives a single
    entry's JVM death instead of poisoning the tail."""
    try:
        old.stop()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    return _vanilla_session()


def _session_alive(spark) -> bool:
    try:
        return spark.sql("SELECT 1").collect()[0][0] == 1
    except Exception:  # noqa: BLE001 — any failure means dead
        return False


def main() -> int:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import duckdb

    spark = _vanilla_session()
    import __spark_entry__ as E
    from etl_mapwarper_spark.sources.tables import TABLE_NAMES

    qs, osql = E.queries(), E.oracle_sql()
    sf = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    args = sys.argv[1:]
    if args == ["all"]:
        names = list(qs)
    elif args:
        names = args
    else:
        names = list(qs)[:50]

    # Full-registry sweeps default to 25-entry chunks (r8: a 50-chunk
    # sf0.1 all-sweep OOM'd the vanilla 1-GiB JVM at dd_containment in
    # an accumulated chunk; the entry passes solo and in any fresh
    # window). The external driver never exceeds one 50-entry window
    # per session, so chunking is the driver-faithful shape; windows
    # and explicit entry lists stay unchunked unless GATE_CHUNK says
    # otherwise.
    default_chunk = "25" if args == ["all"] else "0"
    chunk = int(os.environ.get("GATE_CHUNK", default_chunk))
    fails = []

    def run_one(name):
        """Returns (ok: bool, report: dict-or-'ok'-or-None)."""
        sp = qs[name](spark, sf).toPandas()
        if name not in osql:
            return True, {"rows": len(sp), "oracle": None}
        od = con.execute(osql[name]).df()
        cols = sorted(sp.columns)
        ok_schema = cols == sorted(od.columns)
        a = sorted(map(repr, sp[cols].itertuples(index=False, name=None)))
        b = sorted(map(repr, od[cols].itertuples(index=False, name=None)))
        if ok_schema and len(sp) == len(od) and a == b:
            return True, "ok"
        return False, {
            "rows": [len(sp), len(od)],
            "schema": ok_schema,
            "values": a == b,
        }

    for idx, name in enumerate(names):
        if chunk and idx and idx % chunk == 0:
            spark = _relaunch_session(spark)
        try:
            ok, report = run_one(name)
            if not ok:
                fails.append(name)
            print(json.dumps({name: report}), flush=True)
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            # If the failure killed (or found dead) the chunk JVM,
            # relaunch and retry the entry ONCE on a fresh session:
            # an entry that merely shared a chunk with a heap-hungry
            # predecessor is not a failure, and an entry whose own
            # error reproduces on a fresh JVM is a real one.
            if not _session_alive(spark):
                spark = _relaunch_session(spark)
                try:
                    ok, report = run_one(name)
                    if not ok:
                        fails.append(name)
                    print(
                        json.dumps({name: report, f"{name}:note": "retried on fresh JVM"}),
                        flush=True,
                    )
                    continue
                except Exception as e2:  # noqa: BLE001
                    if not _session_alive(spark):
                        spark = _relaunch_session(spark)
                    e = e2
            fails.append(name)
            print(json.dumps({name: {"err": repr(e)[:300]}}), flush=True)
        finally:
            # Release the ranged relations ranked_in_groups persisted
            # for this entry — the accumulated-state OOM that
            # motivated GATE_CHUNK was exactly this class of leak in
            # the vanilla 1-GiB JVM (r9 advice item). Per-entry
            # release also guarantees the list is empty before the
            # chunk-boundary spark.stop() above, so no stale handles
            # into a stopped session survive.
            from etl_mapwarper_spark.functions.dist_rank import (
                release_ranked_cache,
            )

            release_ranked_cache()
    print("FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
