"""Output checks for perfbench, run after the measured passes.

Query workloads: every result the cold pass wrote (and the published
copy) must be multiset-equal to the query's oracle SQL run in DuckDB on
the same generated inputs. The comparison runs in DuckDB and is
dtype-strict in the way of tools/check_oracle.py: the oracle may not
return HUGEINT columns, the dtype kind of every column must agree
(integer widths may differ, integer vs float may not), and values
compare exactly, as multisets.

Pipeline workload: the SQL-expressible steps of DataPipeline are
recomputed in DuckDB from the input documents (cleaning, the quality
gate's word-count and 3-gram repetition rules, exact dedup, the
hash-mod sample, token counts and bin packing, the per-language
counts). The packed docs must be a subset of the recomputed set, and
every doc of that set missing from them must have a near-duplicate
partner (word 3-gram Jaccard >= 0.4), the only reason docs.canonical
drops a doc. The written artifacts are checked for the properties every
consumer relies on (a doc packed at most once, bins within capacity,
rows conserved between the three sinks fed by the same cell).

`check` returns a list of problems; empty means correct.
"""
import glob
import hashlib
import json
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def kind(duck_type) -> str:
    """The dtype kind that must agree between a result and its oracle:
    integer widths may differ, integer vs float vs decimal may not."""
    t = str(duck_type).upper()
    t = re.sub(r"\b(U?TINYINT|U?SMALLINT|U?INTEGER|U?BIGINT)\b", "INT", t)
    t = re.sub(r"\b(FLOAT|DOUBLE)\b", "FLOAT", t)
    return re.sub(r"\bTIMESTAMP[A-Z_ ]*", "TIMESTAMP", t)


def compare(con, got_sql: str, want_sql: str):
    """None when the two relations are equal as multisets (exact
    values, same column names, same dtype kinds), else the first
    difference found."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    got, want = con.table("got"), con.table("want")
    huge = [c for c, t in zip(want.columns, want.types) if "HUGEINT" in str(t).upper()]
    if huge:
        return f"oracle returns HUGEINT column(s) {huge}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    gk = {c: kind(t) for c, t in zip(got.columns, got.types)}
    wk = {c: kind(t) for c, t in zip(want.columns, want.types)}
    bad = [f"{c}: {gk[c]} vs {wk[c]}" for c in sorted(gk) if gk[c] != wk[c]]
    if bad:
        return f"dtype kind of {bad[0]}"
    n_got, n_want = (con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "want"))
    if n_got != n_want:
        return f"rows {n_got} vs {n_want}"
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    extra = con.sql(f"SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want").fetchall()
    if extra:
        missing = con.sql(f"SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got").fetchall()
        return (f"{len(extra)} rows differ, e.g. {str(extra[0])[:200]} "
                f"where the oracle has {str(missing[:1])[:200]}")
    return None


def connect(inp: str):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        if os.path.exists(f"{inp}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
    return con


def parquet(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet', hive_partitioning = false)"


def check_queries(wl, inp, work, ok_cold):
    problems = []
    oracle = json.load(open(os.path.join(work, "oracle.json")))
    con = connect(inp)
    outs = [(q, q, os.path.join(work, "check", q)) for q in wl["ops"]]
    if wl.get("publish"):
        q = wl["publish"]
        outs.append((f"publish.{q}", q, os.path.join(work, "out", "p0", f"publish_{q}")))
    for op, q, path in outs:
        if op not in ok_cold:
            continue  # counted as failed, not checked
        if q not in oracle:
            problems.append(f"{op}: no oracle SQL")
            continue
        diff = compare(con, parquet(path), oracle[q])
        if diff:
            problems.append(f"{op}: {diff}")
    return problems


def hash60(s: str) -> int:
    """graft.functions.PortableHash.hash60: the first 15 hex digits of md5."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def pipeline_views(con) -> None:
    """DataPipeline's cells up to docs.packed, recomputed in DuckDB:
    `expected` holds what docs.sample.50 keeps when docs.canonical drops
    nothing (clean, then the quality gate, then exact dedup, then the
    50 % hash-mod sample); `neardup` holds the docs of the dedup set that
    have a partner there at word 3-gram Jaccard >= 0.4, the only docs
    docs.canonical may drop."""
    con.create_function("hash60", hash60, ["VARCHAR"], "BIGINT")
    # docs.clean's normalisation
    con.execute(r"""CREATE TEMP TABLE clean AS SELECT doc_id, lang,
        regexp_replace(lower(text), '\s+', ' ', 'g') AS text FROM documents""")
    con.execute("""CREATE TEMP TABLE words AS SELECT doc_id, lang, text,
        list_filter(string_split(text, ' '), x -> x <> '') AS w FROM clean""")
    con.execute("""CREATE TEMP TABLE grams AS SELECT doc_id,
        unnest(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i + 2], ' '))) AS g
        FROM words WHERE len(w) >= 3""")
    # docs.quality: 20 to 100000 words, under 30 % repeated 3-grams
    con.execute("""CREATE TEMP TABLE quality AS SELECT doc_id, lang, text FROM words
        WHERE len(w) BETWEEN 20 AND 100000 AND doc_id IN (SELECT doc_id FROM grams
          GROUP BY doc_id HAVING 1.0 - count(DISTINCT g) / count(*) < 0.3)""")
    # docs.dedup: the lowest doc_id of each (md5(text), lang) group
    con.execute("""CREATE TEMP TABLE dedup AS SELECT * FROM quality WHERE doc_id IN (
        SELECT min(doc_id) FROM quality GROUP BY md5(text), lang)""")
    # docs.sample.50
    con.execute("""CREATE TEMP TABLE expected AS SELECT * FROM dedup
        WHERE hash60(CAST(doc_id AS VARCHAR)) % 100 < 50""")
    # docs.canonical's candidate pairs: distinct word 3-gram sets
    con.execute("""CREATE TEMP TABLE neardup AS
        WITH sh AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id IN (SELECT doc_id FROM dedup)),
        n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        c AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT DISTINCT unnest([a, b]) AS doc_id FROM c
        JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b
        WHERE c / (na.n + nb.n - c) >= 0.4""")


def check_pipeline(wl, inp, work, ok_cold):
    problems = []
    con = connect(inp)
    out = os.path.join(work, "out", "p0")

    def expect_zero(label, sql):
        n = con.sql(sql).fetchone()[0]
        if n:
            problems.append(f"{label}: {n} offending rows")

    if "docs.langstats.en" in ok_cold:
        diff = compare(con, parquet(os.path.join(work, "check", "docs.langstats.en")),
                       "SELECT lang, count(*) AS n_docs FROM documents WHERE lang = 'en' GROUP BY lang")
        if diff:
            problems.append(f"docs.langstats.en: {diff}")

    if "docs.sinks.{out}" in ok_cold:
        pipeline_views(con)
        con.execute(f"""CREATE VIEW packed AS SELECT doc_id, lang, n_tokens, bin_id
            FROM read_parquet('{out}/packed/*/*.parquet', hive_partitioning = true)""")
        expect_zero("sinks: doc outside the recomputed clean/quality/dedup/sample set",
                    "SELECT count(*) FROM packed WHERE doc_id NOT IN (SELECT doc_id FROM expected)")
        expect_zero("sinks: doc of the recomputed set missing without a near-duplicate partner", """
            SELECT count(*) FROM expected WHERE doc_id NOT IN (SELECT doc_id FROM packed)
              AND doc_id NOT IN (SELECT doc_id FROM neardup)""")
        expect_zero("sinks: doc_id packed twice",
                    "SELECT count(*) - count(DISTINCT doc_id) FROM packed")
        expect_zero("sinks: lang differs from the input's",
                    "SELECT count(*) FROM packed p JOIN documents d USING (doc_id) WHERE p.lang <> d.lang")
        # docs.packed: token counts and 512-token bins, recomputed over
        # the packed docs in (lang, doc_id) order
        expect_zero("sinks: n_tokens or bin_id differs from recomputation", """
            WITH t AS (SELECT p.doc_id, p.lang, p.n_tokens, p.bin_id,
                len(string_split(c.text, ' ')) AS want_tokens
              FROM packed p JOIN clean c USING (doc_id))
            SELECT count(*) FROM (SELECT *, coalesce(sum(want_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS want_bin FROM t)
            WHERE n_tokens <> want_tokens OR bin_id <> want_bin""")
        expect_zero("sinks: bin holds 512 tokens before its last doc", """
            SELECT count(*) FROM (SELECT sum(n_tokens) - arg_max(n_tokens, doc_id) AS head
              FROM packed GROUP BY lang, bin_id) WHERE head >= 512""")
        # the csv and json sinks are fed by the same cell: rows conserved
        for name, fmt, sql in SINK_AGGREGATES:
            files = glob.glob(f"{out}/{name}/*.{fmt}")
            if not files:
                problems.append(f"sinks: no {name} {fmt} written")
                continue
            reader = "read_csv" if fmt == "csv" else "read_json_auto"
            diff = compare(con, f"SELECT * FROM {reader}({files!r})", sql)
            if diff:
                problems.append(f"sinks: {name} differs from the packed sink: {diff}")
    return problems


# docs.sinks' csv and json outputs as aggregates of its parquet output
SINK_AGGREGATES = (
    ("langstats", "csv", "SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens "
                         "FROM packed GROUP BY lang"),
    ("bins", "json", "SELECT lang, bin_id, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens "
                     "FROM packed GROUP BY lang, bin_id"))


def check(wl, inp, work, ok_cold):
    if wl["mode"] == "queries":
        return check_queries(wl, inp, work, ok_cold)
    return check_pipeline(wl, inp, work, ok_cold)
