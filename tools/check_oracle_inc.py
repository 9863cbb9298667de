#!/usr/bin/env python3
"""Incremental variant of check_oracle.py for long scale campaigns: checks
only queries whose Spark output is COMPLETE (parquet + _SUCCESS), skips
names already recorded in the ledger, and records per-query verdicts +
wall time so a campaign can run while Verify is still producing outputs.

Usage: python3 tools/check_oracle_inc.py <sfDir> <outDir> <oracleJson> <ledgerJson> [--skip name,...]

Env knobs: DUCK_THREADS (default 8), DUCK_MEM (default 24GB).
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canon, compare, TABLES

def main():
    sf_dir, out_dir, oracle_json, ledger_path = sys.argv[1:5]
    # single-instance lock: two checkers clobber each other's ledger
    # (each holds the whole dict in memory and rewrites the file per query)
    lock = ledger_path + ".lock"
    if os.path.exists(lock):
        pid = open(lock).read().strip()
        if pid and os.path.exists(f"/proc/{pid}"):
            print(f"another checker (pid {pid}) holds {lock}; exiting")
            return
    open(lock, "w").write(str(os.getpid()))
    skip = set()
    if len(sys.argv) > 5 and sys.argv[5] == "--skip":
        skip = set(sys.argv[6].split(","))
    ledger = {}
    if os.path.exists(ledger_path):
        ledger = json.load(open(ledger_path))
    # sweep spill dirs abandoned by dead checkers (a crashed run leaves
    # its duckdb_temp_storage behind — 37 GB of orphaned spill starved a
    # later run into a bogus no-space FAIL); same dead-pid rule as the
    # engine's scratchPath sweep
    # ... but a dead-looking pid can be a LIVE checker in another pid
    # namespace sharing a bind-mounted /tmp — require the dir to also be
    # mtime-stale (>1h untouched; an active spill dir is written
    # constantly) before deleting it
    import shutil
    for d in glob.glob("/tmp/duckspill_*"):
        pid = d.rsplit("_", 1)[-1]
        try:
            # dir mtime only moves on entry create/delete — DuckDB growing
            # an existing temp file in-place leaves it stale-looking, so
            # take the max mtime over the dir AND its contained files
            # ADVICE r15: recurse (os.walk), not just immediate children —
            # a DuckDB version nesting temp files one level down would
            # otherwise re-open the in-place-growth blind spot
            mtimes = [os.stat(d).st_mtime]
            for root, dirs, files in os.walk(d):
                for entry in dirs + files:
                    try:
                        mtimes.append(os.stat(os.path.join(root, entry)).st_mtime)
                    except OSError:
                        pass
            stale = time.time() - max(mtimes) > 3600
        except OSError:
            continue
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}") and stale:
            shutil.rmtree(d, ignore_errors=True)

    def connect():
        con = duckdb.connect()
        con.execute(f"SET threads = {os.environ.get('DUCK_THREADS', '8')}")
        con.execute(f"SET memory_limit = '{os.environ.get('DUCK_MEM', '24GB')}'")
        spill = f"/tmp/duckspill_{os.getpid()}"  # per-process: two checkers
        os.makedirs(spill, exist_ok=True)        # sharing one dir evict each
        con.execute(f"SET temp_directory = '{spill}'")  # other's temp blocks
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            if glob.glob(p) or os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return con
    con = connect()
    oracles = json.load(open(oracle_json))
    n_new = 0
    for name, sql in sorted(oracles.items()):
        if name in ledger or name in skip:
            continue
        qdir = os.path.join(out_dir, name)
        if not os.path.exists(os.path.join(qdir, "_SUCCESS")):
            continue  # Verify hasn't finished this one yet
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            continue
        t0 = time.time()

        def attempt():
            spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
            duck_df = canon(con.execute(sql).df())
            return compare(spark_df, duck_df, name), len(spark_df)
        nrows = -1
        try:
            msgs, nrows = attempt()
        except Exception as e:
            # an OOM-killed query leaves the shared connection's buffer
            # pool poisoned (every later query fails tiny allocations) —
            # rebuild the connection so one heavy replay can't corrupt
            # the rest of the campaign; then RETRY once on the fresh
            # connection so a transient hiccup (poisoned pool, parquet
            # read blip) isn't ledgered as a permanent FAIL
            try:
                con.close()
            except Exception:
                pass
            con = connect()
            try:
                msgs, nrows = attempt()
            except Exception as e2:
                msgs = [f"exception: {e2}"]
                try:
                    con.close()  # may itself raise on a poisoned pool
                except Exception:
                    pass
                con = connect()
        dt = round(time.time() - t0, 1)
        # r14 verdict item: label what `secs` measures — this wall is the
        # DuckDB replay + compare only; the Spark materialization wall is
        # a separate campaign measurement (ledger rows gain engine_secs
        # via the campaign runner when known)
        verdict = {"pass": not msgs, "secs": dt, "secs_is": "checker_wall"}
        if msgs:
            verdict["detail"] = msgs[:5]
            print(f"FAIL {' | '.join(msgs[:3])} ({dt}s)", flush=True)
        else:
            print(f"PASS {name} ({nrows} rows, {dt}s)", flush=True)
        ledger[name] = verdict
        json.dump(ledger, open(ledger_path, "w"), indent=1)
        n_new += 1
    os.remove(lock)
    npass = sum(1 for v in ledger.values() if v["pass"])
    print(f"== ledger: {npass} pass / {len(ledger) - npass} fail / "
          f"{len(oracles) - len(ledger)} unchecked (+{n_new} this run) ==")

if __name__ == "__main__":
    main()
