#!/usr/bin/env python3
"""Staged DuckDB replay for composite oracles whose ONE-SHOT execution
out-spills the box.

A single WITH-chain query runs all its pipeline phases inside one DuckDB
execution graph, so their temp spills STACK (the knn composite-recall
replays at the 100x corpus stacked 75 GB+ and aborted twice, even solo).
This runner executes the SAME algebra stage-wise: selected CTEs are
materialized as TEMP TABLEs in dependency order — each stage's spill is
freed before the next starts, so peak temp = max(stage), not sum(phases).
A CTE omitted from the WITH clause resolves to the temp table of the same
name, so bodies run textually UNCHANGED; the value-compare against the
Spark parquet is byte-for-byte the one check_oracle.py performs.

Usage:
  staged_replay.py <sfDir> <outDir> <oracleJson> <query> <ledgerJson> \
      --stage cte1,cte2,...

Env knobs: DUCK_THREADS (default 16), DUCK_MEM (default 48GB).
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canon, compare, TABLES


def split_with_chain(sql):
    """Parse 'WITH [RECURSIVE] name AS [NOT] [MATERIALIZED] (body), ...
    <tail>' into ([(name, full_cte_text)], tail). Depth-aware split on
    top-level commas; tracks -- comments AND single-quoted string
    literals so parens/commas/dashes inside either never mis-split."""
    s = sql.strip()
    assert s.upper().startswith("WITH"), "not a WITH query"
    s = s[4:].lstrip()
    if s.upper().startswith("RECURSIVE"):
        s = s[len("RECURSIVE"):].lstrip()
    ctes = []
    i, depth, start = 0, 0, 0
    in_line_comment = False
    in_str = False
    while i < len(s):
        c = s[i]
        if in_line_comment:
            if c == "\n":
                in_line_comment = False
        elif in_str:
            if c == "'":
                if s[i:i + 2] == "''":  # escaped quote inside literal
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
        elif c == "-" and s[i:i + 2] == "--":
            in_line_comment = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                ctes.append(s[start:i + 1])
                # after closing paren: either ', next_cte' or the tail
                j = i + 1
                while j < len(s) and s[j] in " \t\r\n":
                    j += 1
                if j < len(s) and s[j] == ",":
                    start = j + 1
                    i = j
                else:
                    return [parse_one(c) for c in ctes], s[j:]
        i += 1
    raise ValueError("unterminated WITH chain")


def open_paren_idx(cte_text):
    """Index of the body's opening paren: the first '(' outside a --
    comment or string literal (head comments may contain parens)."""
    in_c = in_s = False
    i = 0
    while i < len(cte_text):
        c = cte_text[i]
        if in_c:
            if c == "\n":
                in_c = False
        elif in_s:
            if c == "'":
                if cte_text[i:i + 2] == "''":
                    i += 1
                else:
                    in_s = False
        elif c == "'":
            in_s = True
        elif cte_text[i:i + 2] == "--":
            in_c = True
        elif c == "(":
            return i
        i += 1
    raise ValueError("no body parens found")


def body_of(cte_text):
    return cte_text[open_paren_idx(cte_text) + 1:cte_text.rfind(")")]


def parse_one(cte_text):
    head = cte_text[:open_paren_idx(cte_text)]
    # a CTE may be preceded by -- comment lines; the name is the first
    # token of the first non-comment line
    lines = [l for l in head.splitlines() if l.strip()
             and not l.strip().startswith("--")]
    name = lines[0].strip().split()[0]
    return name, cte_text.strip()


def main():
    sf_dir, out_dir, oracle_json, qname, ledger_path = sys.argv[1:6]
    stages = []
    if "--stage" in sys.argv:
        stages = sys.argv[sys.argv.index("--stage") + 1].split(",")
    sql = json.load(open(oracle_json))[qname]
    ctes, tail = split_with_chain(sql)
    # round-trip guard: re-assembling the parsed pieces must reproduce the
    # input modulo whitespace — catches any future scanner blind spot
    # (new literal/comment form) before it can run wrong algebra
    rt = "WITH " + ", ".join(t for _, t in ctes) + " " + tail
    src = sql.strip()
    if src.upper().startswith("WITH") and src[4:].lstrip().upper().startswith("RECURSIVE"):
        rt = "WITH RECURSIVE " + rt[len("WITH "):]
    assert "".join(rt.split()) == "".join(src.split()), \
        "WITH-chain round-trip mismatch: scanner mis-split this query"
    names = [n for n, _ in ctes]
    unknown = [st for st in stages if st not in names]
    assert not unknown, f"--stage names not in WITH chain: {unknown}"

    # completeness + single-writer checks BEFORE burning replay time:
    # a still-writing Spark output dir must not ledger a bogus FAIL, and
    # a live incremental checker holds the whole ledger in memory and
    # would clobber (then one-shot re-run) our staged verdict
    qdir = os.path.join(out_dir, qname)
    assert os.path.exists(os.path.join(qdir, "_SUCCESS")), \
        f"{qdir} has no _SUCCESS — Spark output incomplete"
    assert glob.glob(os.path.join(qdir, "*.parquet")), \
        f"{qdir} has no parquet files"
    # ADVICE r14: atomic acquisition (O_CREAT|O_EXCL) — the old
    # exists-check-then-open(w) let two replays (or a replay racing a
    # just-starting checker) both pass the liveness check and both write
    # the lock, re-admitting the ledger-clobber race the lock prevents.
    # One retry after removing a dead-pid lock; try/finally below removes
    # the lock only if it still contains OUR pid.
    lock = ledger_path + ".lock"
    mypid = str(os.getpid())
    for attempt in (1, 2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(mypid)
            break
        except FileExistsError:
            try:
                pid = open(lock).read().strip()
            except OSError:
                pid = ""  # holder removed it between our open attempts
            assert not (pid and os.path.exists(f"/proc/{pid}")), \
                f"checker pid {pid} holds {lock}; refusing to race the ledger"
            assert attempt == 1, \
                f"{lock} reappeared after dead-pid removal; racing holder"
            try:
                os.remove(lock)  # dead pid — clear and retry once
            except FileNotFoundError:
                pass
    try:
        run_replay(sf_dir, out_dir, qname, ledger_path, ctes, names,
                   tail, stages)
    finally:
        try:
            if open(lock).read().strip() == mypid:
                os.remove(lock)
        except OSError:
            pass


def run_replay(sf_dir, out_dir, qname, ledger_path, ctes, names, tail,
               stages):
    con = duckdb.connect()
    con.execute(f"SET threads = {os.environ.get('DUCK_THREADS', '16')}")
    con.execute(f"SET memory_limit = '{os.environ.get('DUCK_MEM', '48GB')}'")
    spill = f"/tmp/duckspill_{os.getpid()}"
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        if glob.glob(p) or os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    t0 = time.time()
    staged = set()
    for st in stages:  # caller supplies dependency order
        idx = names.index(st)
        # WITH clause = every UNstaged CTE before this one (staged ones
        # resolve to their temp tables by name); body text unchanged
        prior = [text for n, text in ctes[:idx] if n not in staged]
        body = body_of(ctes[idx][1])
        with_clause = ("WITH " + ",\n".join(prior) + "\n" ) if prior else ""
        stmt = f"CREATE TEMP TABLE {st} AS {with_clause}{body}"
        ts = time.time()
        con.execute(stmt)
        n = con.execute(f"SELECT count(*) FROM {st}").fetchone()[0]
        staged.add(st)
        print(f"  staged {st}: {n} rows, {round(time.time()-ts,1)}s", flush=True)
    remaining = [text for n, text in ctes if n not in staged]
    final = (("WITH " + ",\n".join(remaining) + "\n") if remaining else "") + tail
    ts = time.time()
    duck_df = canon(con.execute(final).df())
    print(f"  final: {len(duck_df)} rows, {round(time.time()-ts,1)}s", flush=True)

    files = glob.glob(os.path.join(out_dir, qname, "*.parquet"))
    spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
    msgs = compare(spark_df, duck_df, qname)
    dt = round(time.time() - t0, 1)
    verdict = {"pass": not msgs, "secs": dt, "secs_is": "checker_wall",
               "staged": stages}
    if msgs:
        verdict["detail"] = msgs[:5]
        print(f"FAIL {' | '.join(msgs[:3])} ({dt}s)", flush=True)
    else:
        print(f"PASS {qname} ({len(spark_df)} rows, {dt}s, staged)", flush=True)
    ledger = {}
    if os.path.exists(ledger_path):
        ledger = json.load(open(ledger_path))
    ledger[qname] = verdict
    json.dump(ledger, open(ledger_path, "w"), indent=1)


if __name__ == "__main__":
    main()
