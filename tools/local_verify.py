#!/usr/bin/env python3
"""Dev-only local mirror of the driver's correctness gate.

Runs DuckDB oracle SQL from Verify.scala's oracle_sql.json against the
same parquet tables and compares with the Spark-side parquet dumps
(columns sorted by name, rows sorted, values compared cell-by-cell).

Usage: after `sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/gv"`:
    python3 tools/local_verify.py /root/testdata/sf0.01 /tmp/gv [name...]
    python3 tools/local_verify.py --json OUT.json SFDIR OUTDIR [name...]
    python3 tools/local_verify.py --jobs N ...   # N compare workers

--json writes a machine-readable artifact in the driver's shape:
    {name: {rows_match, schema_match, hash_match, err}}, plus each entry's
compare seconds under "compare_s" — committed each
round as CORRECTNESS_LOCAL_r{N}.json so the round carries a diffable
correctness file even when the driver-side capture fails. graft.Verify
invokes this script itself at the end of a full dump (--jobs = the host's
available processors), so the artifact also lands beside the dump without
a separate manual step.

Under --jobs N, N worker processes take entries one at a time from one
shared queue, each through its own DuckDB connection, so a costly entry
holds up only its own worker.
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize: timestamps → iso strings, floats rounded repr
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def connect(sfdir, threads=None):
    con = duckdb.connect()
    # DuckDB defaults to ALL cores per connection — under --jobs the
    # workers would just fight for the same CPUs (measured: 8 workers
    # x 32 threads ~ sequential wall). Split the cores across workers.
    if threads:
        con.execute(f"SET threads={threads}")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con

def check_one(con, oracle, outdir, name):
    """→ (name, printable line, record dict, is_bad)."""
    def rec(rows_match, schema_match, hash_match, err=None):
        return {"rows_match": rows_match, "schema_match": schema_match,
                "hash_match": hash_match, "err": err}
    path = os.path.join(outdir, name)
    files = glob.glob(f"{path}/*.parquet")
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").df() if files \
        else pd.DataFrame()
    if name not in oracle:
        # informational only: a legitimately-empty result is not a
        # failure, so record the row count rather than a pass/fail
        # derived from non-emptiness
        return (name, f"  {name:34s} rows-only: {len(got)} rows",
                rec(None, None, None, f"rows-only (no oracle): {len(got)} rows"), False)
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        return (name, f"✗ {name:34s} ORACLE SQL ERROR: {e}",
                rec(False, False, False, f"oracle sql error: {e}"), True)
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return (name, f"✗ {name:34s} COLUMNS spark={list(g.columns)} oracle={list(e.columns)}",
                rec(False, False, False,
                    f"columns spark={list(g.columns)} oracle={list(e.columns)}"), True)
    if len(g) != len(e):
        return (name, f"✗ {name:34s} ROWS spark={len(g)} oracle={len(e)}",
                rec(False, True, False, f"rows spark={len(g)} oracle={len(e)}"), True)
    # dtype check (schema match) then values
    mism = []
    for c in g.columns:
        gv, ev = g[c], e[c]
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            bad = ~(np.isclose(gv.astype(float), ev.astype(float), rtol=0, atol=0.0,
                               equal_nan=True))
        else:
            bad = ~((gv == ev) | (gv.isna() & ev.isna()))
        bad = np.asarray(bad)
        if bad.any():
            i = int(np.argmax(bad))
            mism.append(f"{c}[row{i}]: spark={gv.iloc[i]!r} oracle={ev.iloc[i]!r} (n={int(bad.sum())})")
    sdt = {c: str(g[c].dtype) for c in g.columns}
    edt = {c: str(e[c].dtype) for c in e.columns}
    dt_mism = {c: (sdt[c], edt[c]) for c in g.columns
               if sdt[c] != edt[c] and not (sdt[c].startswith("float") and edt[c].startswith("float"))}
    if mism or dt_mism:
        return (name,
                f"✗ {name:34s} {'; '.join(mism[:3])} {('DTYPES ' + str(dt_mism)) if dt_mism else ''}",
                rec(True, not dt_mism, False,
                    "; ".join(mism[:3]) + (f" DTYPES {dt_mism}" if dt_mism else "")), True)
    return (name, f"✓ {name:34s} {len(g)} rows", rec(True, True, True), False)

_worker = None

def init_worker(sfdir, outdir, oracle, threads):
    """Worker for --jobs: one connection per process, kept for its entries."""
    global _worker
    _worker = (connect(sfdir, threads), oracle, outdir)

def timed_check(con, oracle, outdir, name):
    """check_one's tuple plus the compare's wall seconds."""
    t0 = time.monotonic()
    return check_one(con, oracle, outdir, name) + (time.monotonic() - t0,)

def check_queued(name):
    con, oracle, outdir = _worker
    return timed_check(con, oracle, outdir, name)

def main():
    argv = sys.argv[1:]
    json_out = None
    jobs = 1
    while argv and argv[0] in ("--json", "--jobs"):
        if argv[0] == "--json":
            json_out = argv[1]
        else:
            jobs = max(1, int(argv[1]))
        argv = argv[2:]
    sfdir, outdir = argv[0], argv[1]
    only = set(argv[2:])
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sorted(n for n in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, n)) and (not only or n in only))
    if jobs > 1 and len(names) > 1:
        from multiprocessing import Pool
        per_worker = max(1, (os.cpu_count() or 8) // jobs)
        with Pool(jobs, init_worker, (sfdir, outdir, oracle, per_worker)) as pool:
            results = list(pool.imap_unordered(check_queued, names, chunksize=1))
        results.sort(key=lambda r: r[0])
    else:
        con = connect(sfdir)
        results = [timed_check(con, oracle, outdir, n) for n in names]
    report, seconds = {}, {}
    n_ok = n_bad = 0
    for name, line, rec, bad, secs in results:
        print(line)
        report[name] = rec
        seconds[name] = round(secs, 3)
        if rec["hash_match"] is True:
            n_ok += 1
        if bad:
            n_bad += 1
    slowest = sorted(seconds.items(), key=lambda kv: -kv[1])[:5]
    print("\nslowest compares: " + ", ".join(f"{n} {s:.1f}s" for n, s in slowest))
    print(f"{n_ok} ok, {n_bad} bad")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sfdir, "n_ok": n_ok, "n_bad": n_bad,
                       "queries": report, "compare_s": seconds}, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
