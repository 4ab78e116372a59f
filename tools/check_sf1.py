#!/usr/bin/env python3
"""sf1 correctness gate: replay the DuckDB oracle over a Verify dump at
an arbitrary SF dir and emit a CORRECTNESS_r{N}-shaped JSON artifact.

Same comparison semantics as the driver (and tools/check.py): columns
sorted by name, rows sorted by all columns, values compared EXACTLY
(dtype splits like int64-vs-float64 fail, as the driver's stringify-hash
would). "hash_match" here means that exact value comparison passed.

Usage:
  python3 tools/check_sf1.py <sfDir> <verifyOutDir> <outJson>
  python3 tools/check_sf1.py <sfDir> <verifyOutDir> <outJson> --isolate
  python3 tools/check_sf1.py <sfDir> <verifyOutDir> <outJson> --one <name>
  ... the sweep modes (plain / --isolate) may add --merge: seed
  <outJson> from its existing rows and update, instead of clobbering
  the gate file with only this run's queries (a 5-query sweep once
  shrank CORRECTNESS_SF1.json from 86 rows to 5).

--isolate runs ONE SUBPROCESS PER QUERY (each invoking --one). This is
the sf10 mode: DuckDB's allocator is process-global, so a single
OutOfMemoryException poisons every later oracle in the SAME process
with tiny bad-alloc failures even across fresh connections (the r12
incident: 1 genuine OOM -> 11 cascade-poisoned red rows). Process
isolation turns one heavy oracle's OOM into exactly one red row, and
gives each query the full temp-directory budget (the dir is wiped
between queries).
"""
import json, shutil, subprocess, sys, glob, os, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import compare


def gk_rank_tolerance(con, oracle_sql, spark_files):
    """Verify q_text_quality_prune_approx's above-accuracy contract:
    the rank of the sketch's cutoff value is within eps*n = n/10000 of
    ceil(0.25*n). Returns (ok, message)."""
    import math
    idx = oracle_sql.index("\nc AS (")
    head = oracle_sql[:idx].rstrip().rstrip(",")
    scores = con.execute(head + "\nSELECT stop_ratio FROM sc") \
        .fetchdf()["stop_ratio"]
    spark_cut = con.execute(
        f"SELECT min(stop_ratio) FROM read_parquet({spark_files!r})"
    ).fetchone()[0]
    n = len(scores)
    target = math.ceil(0.25 * n)
    rank_lo = int((scores < spark_cut).sum()) + 1
    rank_hi = int((scores <= spark_cut).sum())
    err = (0 if rank_lo <= target <= rank_hi
           else min(abs(rank_lo - target), abs(rank_hi - target)))
    bound = n / 10000.0
    msg = (f"cutoff {spark_cut} spans ranks [{rank_lo},{rank_hi}], "
           f"target {target}, rank_err {err} <= eps*n {bound}")
    return err <= bound, msg


def fresh_con(sf_dir):
    con = duckdb.connect()
    # Cap the spill an oracle may write: the sf10 graph-family replay
    # once filled the disk with 68 GB of temp storage before dying on
    # ENOSPC (taking the whole harness run with it). A bounded temp
    # dir turns a runaway oracle into a clean per-query FAIL. In
    # --isolate mode the cap is PER QUERY (the dir is wiped between
    # subprocesses), so a heavy replay gets the whole budget alone.
    tmp = os.path.join("target", "duck_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET max_temp_directory_size='%s'"
                % os.environ.get("DUCK_TEMP_CAP", "32GiB"))
    # Explicit ceiling below physical RAM: DuckDB's default (80% of
    # RAM) plus the pandas fetchdf copies risked the OS OOM-killer at
    # sf10; a DuckDB-side limit fails the one query cleanly instead.
    con.execute("SET memory_limit='%s'"
                % os.environ.get("DUCK_MEM_CAP", "80GiB"))
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_one(sf_dir, out_dir, name, oracle, entry):
    """Check a single query; mutates `entry` and prints its own PASS/
    SKIP lines. FAIL printing happens in main() off entry['err']."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        entry["err"] = "no spark output"
        return
    con = fresh_con(sf_dir)
    got = con.execute(
        f"SELECT * FROM read_parquet({files!r})").fetchdf()
    entry["spark_rows"] = len(got)
    if name not in oracle:
        entry["err"] = "rows-only (no oracle sql)"
        print(f"SKIP {name}: rows-only ({len(got)} rows)", flush=True)
        return
    t0 = time.time()
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        entry["err"] = f"oracle SQL error: {e}"
        return
    entry["oracle_sec"] = round(time.time() - t0, 1)
    entry["oracle_rows"] = len(exp)
    entry["rows_match"] = len(got) == len(exp)
    gcols = sorted(got.columns); ecols = sorted(exp.columns)
    entry["schema_match"] = gcols == ecols
    ok, msg = compare(got, exp)
    entry["hash_match"] = ok
    if ok:
        print(f"PASS {name} ({len(got)} rows, oracle "
              f"{entry['oracle_sec']}s)", flush=True)
    elif name == "q_text_quality_prune_approx":
        # Documented tolerance case (see the query's scaladoc): the
        # GK sketch at accuracy=10000 is EXACT below 10000 rows —
        # the sf<=0.1 gate — but above that its contract is a
        # bounded RANK error: |rank(cutoff) - ceil(0.25 n)| <= n/1e4.
        # Ties at the chosen cutoff VALUE legitimately move the
        # selected-row count by more than the rank error, so the
        # row-set bar doesn't apply; the rank bound is the contract
        # and is verified here instead.
        tol_ok, tol_msg = gk_rank_tolerance(con, oracle[name], files)
        entry["tolerance_ok"] = tol_ok
        entry["err"] = ("GK sketch rank-error case above accuracy "
                        f"rows: {tol_msg}")
        if tol_ok:
            print(f"PASS(tol) {name}: {tol_msg}", flush=True)
        else:
            entry["err"] = f"rank bound violated: {tol_msg}"
            entry["tolerance_ok"] = False
    else:
        entry["err"] = msg


def seed_report(out_json, merge):
    """--merge: update the existing gate file in place instead of
    clobbering it with only this run's rows (a 5-query sweep once
    silently shrank CORRECTNESS_SF1.json from 86 rows to 5)."""
    if merge and os.path.exists(out_json):
        return json.load(open(out_json))
    return {}


def result_names(oracle, out_dir):
    """Every oracle key and every output directory, sorted. A key with
    no output is checked (and FAILs with "no spark output") instead of
    silently dropping out of the count when its query threw."""
    return sorted(set(oracle) | {d for d in os.listdir(out_dir)
                                 if os.path.isdir(os.path.join(out_dir, d))})


def main(sf_dir, out_dir, out_json, merge=False):
    # One connection PER QUERY: a DuckDB OutOfMemoryException poisons
    # the connection's buffer pool — at sf10 a single OOM oracle made
    # every subsequent (individually fine) oracle fail with tiny
    # bad-allocation errors. Views are cheap to re-create.
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    report = seed_report(out_json, merge)
    results = result_names(oracle, out_dir)
    n_fail = 0
    for name in results:
        entry = {"rows_match": False, "schema_match": False,
                 "hash_match": False, "spark_rows": None,
                 "oracle_rows": None, "err": None, "oracle_sec": None}
        report[name] = entry
        try:
            check_one(sf_dir, out_dir, name, oracle, entry)
        except Exception as e:
            # NOTHING a single query does may abort the sweep — the
            # ENOSPC incident above escaped the oracle try/except via
            # the next query's unguarded read_parquet.
            if entry["err"] is None:
                entry["err"] = f"harness error: {e}"
        failed = (entry["err"] is not None
                  and not entry["err"].startswith("rows-only")
                  and not entry.get("tolerance_ok", False))
        if failed:
            n_fail += 1
            print(f"FAIL {name}: {entry['err']}", flush=True)
    with open(out_json, "w") as f:
        json.dump(dict(sorted(report.items())), f, indent=2)
    print(f"\n{len(report) - n_fail} pass, {n_fail} fail, "
          f"{len(report)} total -> {out_json}")
    return 1 if n_fail else 0


def blank_entry():
    return {"rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "err": None, "oracle_sec": None}


def main_one(sf_dir, out_dir, out_json, name):
    """Worker mode: check exactly one query, write {name: entry}."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    entry = blank_entry()
    try:
        check_one(sf_dir, out_dir, name, oracle, entry)
    except Exception as e:
        if entry["err"] is None:
            entry["err"] = f"harness error: {e}"
    with open(out_json, "w") as f:
        json.dump({name: entry}, f, indent=2)
    failed = (entry["err"] is not None
              and not entry["err"].startswith("rows-only")
              and not entry.get("tolerance_ok", False))
    if failed:
        print(f"FAIL {name}: {entry['err']}", flush=True)
    return 1 if failed else 0


def main_isolated(sf_dir, out_dir, out_json, merge=False):
    """Driver mode: one subprocess (and one DuckDB process) per query."""
    timeout = int(os.environ.get("DUCK_QUERY_TIMEOUT", "3600"))
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = result_names(oracle, out_dir)
    report, n_fail = seed_report(out_json, merge), 0
    for name in results:
        shutil.rmtree(os.path.join("target", "duck_tmp"),
                      ignore_errors=True)  # per-query temp budget
        tmp_json = os.path.join("target", f"duck_one_{name}.json")
        if os.path.exists(tmp_json):
            os.remove(tmp_json)
        cmd = [sys.executable, os.path.abspath(__file__),
               sf_dir, out_dir, tmp_json, "--one", name]
        entry = None
        try:
            p = subprocess.run(cmd, timeout=timeout)
            if os.path.exists(tmp_json):
                entry = json.load(open(tmp_json))[name]
            else:
                entry = blank_entry()
                entry["err"] = (f"oracle subprocess died rc={p.returncode} "
                                "with no result (likely OS OOM-kill)")
        except subprocess.TimeoutExpired:
            entry = blank_entry()
            entry["err"] = f"oracle timeout after {timeout}s (isolated)"
        report[name] = entry
        failed = (entry["err"] is not None
                  and not entry["err"].startswith("rows-only")
                  and not entry.get("tolerance_ok", False))
        if failed:
            n_fail += 1
            print(f"FAIL {name}: {entry['err']}", flush=True)
        with open(out_json, "w") as f:   # checkpoint after every query
            json.dump(dict(sorted(report.items())), f, indent=2)
    print(f"\n{len(report) - n_fail} pass, {n_fail} fail, "
          f"{len(report)} total -> {out_json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    merge = "--merge" in sys.argv[4:]
    if len(sys.argv) > 4 and sys.argv[4] == "--one":
        sys.exit(main_one(sys.argv[1], sys.argv[2], sys.argv[3],
                          sys.argv[5]))
    elif "--isolate" in sys.argv[4:]:
        sys.exit(main_isolated(sys.argv[1], sys.argv[2], sys.argv[3],
                               merge))
    else:
        sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3], merge))
