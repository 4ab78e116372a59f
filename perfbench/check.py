"""Output checks, run after the measured passes.

Query workloads: every operation of the workload's list must have a fresh
output of the last pass, and it must equal its Queries.oracles SQL replayed
in DuckDB over the same input tables, compared exactly by the repository's
tools/check.py. The loop is over the operation list, so a missing output
is a failure, never a skip.

etl_garmin: every landed dataset's row count must equal the generator's
expected count, the parquet actually on disk, and the count in Derby.
"""
import glob
import importlib.util
import os

import duckdb


def _repo_compare():
    """The repository's own exact comparison (tools/check.py), so the
    benchmark holds query outputs to the same bar as the oracle harness."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check_queries(data_dir, out_dir, ops, oracles):
    """Returns {op: error message or None} for every op in `ops`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    compare = _repo_compare()
    result = {}
    for op in ops:
        files = glob.glob(os.path.join(out_dir, op, "*.parquet"))
        if not os.path.exists(os.path.join(out_dir, op, "_SUCCESS")) or not files:
            result[op] = "no fresh output"
        elif op not in oracles:
            result[op] = "no oracle"
        else:
            try:
                got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
                ok, msg = compare(got, con.execute(oracles[op]).fetchdf())
                result[op] = None if ok else msg
            except Exception as ex:  # oracle or read error is a failure
                result[op] = f"check error: {str(ex)[:300]}"
    con.close()
    return result


def check_etl(out_dir, expected, landed, derby):
    """Returns {dataset: error message or None}."""
    con = duckdb.connect()
    result = {}
    for ds, want in expected.items():
        files = glob.glob(os.path.join(out_dir, "landed", ds, "*.parquet"))
        on_disk = con.execute(
            f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] \
            if files else 0
        got = (landed.get(ds), on_disk, derby.get(ds))
        result[ds] = None if got == (want, want, want) else \
            f"expected {want} rows, landed/parquet/derby = {got}"
    con.close()
    return result
