#!/usr/bin/env python3
"""Shows that the output checks reject wrong outputs.

Usage: python3 perfbench/selfcheck.py
  (after `python3 perfbench/run.py ...`, on that run's outputs)

Copies the last run's outputs; in one copy it changes a single value of
a checked output, in another it drops a single row. For the pipeline, a
third copy drops one doc from all three sinks of docs.sinks (the packed
parquet, and the csv and json aggregates recomputed without it): a doc
that is last in its language's bins and has no near-duplicate partner,
so only the recomputed-set check can catch it. The checks must pass on
the untouched outputs and report a problem on each broken copy. Exits 1
otherwise.
"""
import glob
import json
import os
import shutil
import sys

import duckdb

import checks
import run


def target(work: str, wl: dict) -> str:
    """A parquet file the checks read: the first query's result, or one
    language partition of the pipeline's packed sink."""
    if wl["mode"] == "queries":
        pattern = os.path.join(work, "check", wl["ops"][0], "*.parquet")
    else:
        pattern = os.path.join(work, "out", "p0", "packed", "lang=en", "*.parquet")
    return max(glob.glob(pattern), key=os.path.getsize)


def rewrite(path: str, change: str) -> None:
    """Apply `change` (SQL over table t) to one parquet file in place."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}', hive_partitioning = false)")
    if con.sql("SELECT count(*) FROM t").fetchone()[0] == 0:
        sys.exit(f"{path} has no rows")
    if change == "value":
        col = next(c for c, ty in zip(con.table("t").columns, con.table("t").types)
                   if checks.kind(ty) in ("INT", "FLOAT"))
        change = f'UPDATE t SET "{col}" = "{col}" + 1 WHERE rowid = (SELECT min(rowid) FROM t)'
    con.execute(change)
    con.execute(f"COPY t TO '{path}' (FORMAT PARQUET)")


def drop_doc_from_sinks(work: str, inp: str) -> None:
    """Remove one doc from the packed sink and rewrite the csv and json
    sinks as aggregates of what is left, so the three stay consistent."""
    out = os.path.join(work, "out", "p0")
    con = checks.connect(inp)
    checks.pipeline_views(con)
    con.execute(f"""CREATE TABLE packed AS SELECT doc_id, lang, n_tokens, bin_id, filename
        FROM read_parquet('{out}/packed/*/*.parquet', hive_partitioning = true, filename = true)""")
    doc, path = con.sql("""SELECT doc_id, filename FROM packed
        WHERE doc_id IN (SELECT max(doc_id) FROM packed GROUP BY lang)
          AND doc_id NOT IN (SELECT doc_id FROM neardup) ORDER BY doc_id LIMIT 1""").fetchone()
    rewrite(path, f"DELETE FROM t WHERE doc_id = {doc}")
    con.execute(f"DELETE FROM packed WHERE doc_id = {doc}")
    for name, fmt, sql in checks.SINK_AGGREGATES:
        for f in glob.glob(os.path.join(out, name, "*")):
            os.remove(f)
        opts = "FORMAT CSV, HEADER" if fmt == "csv" else "FORMAT JSON"
        con.execute(f"COPY ({sql}) TO '{os.path.join(out, name, 'part-0.' + fmt)}' ({opts})")
    print(f"dropped doc {doc} from {os.path.relpath(path, work)} and the csv/json sinks")


def main() -> int:
    work = os.path.join(run.WORK, "run")
    meta = json.load(open(os.path.join(work, "run.json")))
    wl = run.WORKLOADS[meta["workload"]]
    ok = set(meta["ok_cold"])
    base = checks.check(wl, meta["inputs"], work, ok)
    print(f"{meta['workload']}: untouched outputs -> {base or 'pass'}")
    failed = bool(base)
    cases = [("one value changed", "value"),
             ("one row dropped", "DELETE FROM t WHERE rowid = (SELECT min(rowid) FROM t)")]
    if wl["mode"] == "pipeline":
        cases.append(("one doc dropped from all three sinks", None))
    for label, change in cases:
        copy = os.path.join(run.WORK, "selfcheck")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(work, copy)
        if change is None:
            drop_doc_from_sinks(copy, meta["inputs"])
            where = "docs.sinks"
        else:
            f = target(copy, wl)
            rewrite(f, change)
            where = os.path.relpath(f, copy)
        found = checks.check(wl, meta["inputs"], copy, ok)
        print(f"{label} in {where} -> {found or 'NOT DETECTED'}")
        failed |= not found
        shutil.rmtree(copy, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
