"""Local oracle-differential harness — mirrors the driver's correctness gate.

Runs every query in the registry on Spark and its oracle SQL on DuckDB over
the same parquet tables, canonicalizes both results (columns sorted by name,
rows sorted, values stringified), and compares row counts + value hashes.

Usage: python tools/oracle_check.py [--plain] [--all] [--json PATH] [sf_dir] [query_name ...]

``--all`` ignores any query-name filter and re-runs the ENTIRE registry —
the per-round full refresh (`python tools/oracle_check.py --all --json
LOCAL_ORACLE.json /root/testdata/sf0.01`). A full run stamps a ``__meta__``
record (generated_at, sf_dir, query count, and a ``source_digest`` — a
SHA-256 over every engine .py file's path+content) into the JSON artifact;
tests/test_registry_rotation.py's stale-artifact guard recomputes the
digest and fails when it differs, so a code change without a refresh fails
CI instead of silently resting on green rows that predate the code now
serving them. (Round 7: digest replaces the earlier mtime comparison,
which both false-failed on fresh clones — checkout order sets arbitrary
mtimes — and was defeated by a bare ``touch`` of the artifact.)

``--plain`` runs on a bare SparkSession (no engine confs — Spark 4 ANSI
defaults, like the external driver's) instead of SessionFactory, verifying
that the query layer pins every conf it depends on (queries/base.py).

``--json PATH`` additionally writes a per-query result artifact (same shape
as the driver's CORRECTNESS_r*.json rows plus a "local": true marker).
Committing this artifact (LOCAL_ORACLE.json at the repo root) is what makes
the registry-rotation guard's "locally oracle-checked before commit" claim
auditable for queries waiting outside the driver's 50-slot window.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from lakehouse_architecture_spark.catalog import TESTDATA_TABLES
from lakehouse_architecture_spark.materialize import release_small_pins
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
from lakehouse_architecture_spark.session import SessionFactory


def engine_source_digest(repo_root: str | None = None) -> str:
    """SHA-256 over every .py file under lakehouse_architecture_spark/
    (relative path + content, sorted walk) — a clone-stable fingerprint of
    the engine code a LOCAL_ORACLE.json full run vouches for. The WHOLE
    package is hashed (not just queries/sources/operators): queries reach
    into catalog.py, functions/, pipeline/, and materialize.py, and the
    round-5 staleness incident was exactly a non-queries file (a manifest
    schema) changing under green rows."""
    if repo_root is None:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo_root, "lakehouse_architecture_spark")
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, repo_root).encode())
            h.update(b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()


def canonical(df: pd.DataFrame) -> tuple[int, str, list[str]]:
    cols = sorted(df.columns)
    df = df[cols]

    def cell(v: object) -> str:
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted(
        ",".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), h, rows


def main() -> int:
    argv = sys.argv[1:]
    plain = "--plain" in argv
    run_all = "--all" in argv
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or argv[i + 1].startswith("-"):
            print(
                "usage: oracle_check.py [--plain] [--all] [--json PATH]"
                " [sf_dir] [query ...]"
            )
            return 2
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if a not in ("--plain", "--all")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set() if run_all else set(args[1:])

    if plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_plain")
            .getOrCreate()
        )
    else:
        spark = SessionFactory(app_name="oracle_check").get_or_create()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    failures, passes = [], []
    records: dict[str, dict] = {}
    for name, spec in ALL_QUERIES.items():
        if only and name not in only:
            continue
        # drop the PREVIOUS query's materialize_small pins (round 15,
        # VERDICT r14 #2): without a release, a full 272-query session
        # stacks hundreds of dead MEMORY_AND_DISK relations
        release_small_pins(spark)
        t0 = time.time()
        try:
            sdf = spec.build(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            msg = f"SPARK ERROR: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
            failures.append((name, msg))
            records[name] = {"local": True, "sf_dir": sf_dir, "err": msg}
            continue
        if spec.oracle is None:
            passes.append((name, f"rows-only n={len(sdf)} ({time.time()-t0:.1f}s)"))
            records[name] = {
                "local": True, "sf_dir": sf_dir, "spark_rows": len(sdf),
                "rows_match": None, "schema_match": None, "hash_match": None,
                "err": None,
            }
            continue
        try:
            odf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            msg = f"DUCKDB ERROR: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
            failures.append((name, msg))
            records[name] = {"local": True, "sf_dir": sf_dir, "err": msg}
            continue
        sn, sh, srows = canonical(sdf)
        on, oh, orows = canonical(odf)
        dt = time.time() - t0
        records[name] = {
            "local": True, "sf_dir": sf_dir,
            "rows_match": sn == on, "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": sh == oh, "spark_rows": sn, "oracle_rows": on,
            "err": None,
        }
        if sn != on:
            failures.append((name, f"ROWCOUNT spark={sn} oracle={on}"))
        elif sh != oh:
            diff = next(
                (f"spark={a!r} oracle={b!r}" for a, b in zip(srows, orows) if a != b),
                "rows differ only in tail",
            )
            failures.append((name, f"HASH mismatch n={sn}; first diff: {diff[:300]}"))
        else:
            passes.append((name, f"OK n={sn} hash={sh} ({dt:.1f}s)"))

    for name, msg in passes:
        print(f"PASS {name}: {msg}")
    for name, msg in failures:
        print(f"FAIL {name}: {msg}")
    print(f"\n{len(passes)} passed, {len(failures)} failed")
    if json_path:
        import json

        # merge into an existing artifact so partial runs (query subsets)
        # refresh only the rows they touched
        existing: dict[str, dict] = {}
        if os.path.exists(json_path):
            try:
                with open(json_path) as f:
                    existing = json.load(f)
            except (OSError, ValueError):
                existing = {}
        existing.update(records)
        if not only:
            # full-registry run: prune rows for queries RETIRED from the
            # registry (round 14: a stale carried row would claim coverage
            # for a query the engine no longer declares), then stamp
            # freshness metadata
            existing = {
                k: v
                for k, v in existing.items()
                if k == "__meta__" or k in ALL_QUERIES
            }
            from lakehouse_architecture_spark.queries.registry import (
                rotation_forecast,
            )

            existing["__meta__"] = {
                "generated_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                "sf_dir": sf_dir,
                "n_queries": len(records),
                "full_run": True,
                # clone-stable staleness fingerprint: the guard recomputes
                # this and fails when engine code changed since the run
                "source_digest": engine_source_digest(),
                # VERDICT r12 #7: per-query next expected driver-green
                # round, read off the committed rotation order — a coming
                # staleness breach shows here one round before the guard
                "rotation_forecast": rotation_forecast(),
            }
        with open(json_path, "w") as f:
            json.dump(existing, f, indent=1, sort_keys=True)
        print(f"wrote {len(records)} records -> {json_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
