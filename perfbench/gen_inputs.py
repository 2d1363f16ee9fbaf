#!/usr/bin/env python3
"""Seeded benchmark inputs derived from the read-only sf0.1 test data.

Usage: python3 perfbench/gen_inputs.py <srcDir> <outDir> <seed> <table,...> [<docs>]

Only the named tables are written: `documents` and `embeddings`, the
two the workloads read. `docs` keeps the documents with doc_id < docs
(500 gives an sf0.01-sized corpus). The scheme is the one of
tools/make_scale_corpus.py, with the seed mixed into every
perturbation, so that each seed gives other values on the same shape:

- documents keep their ids, langs and sources; a seed-chosen eighth of
  the vocabulary gets a seed suffix. The substitution is per word, so
  exact duplicates stay duplicates and near-duplicate Jaccard scores
  are unchanged; n_chars is recomputed from the new text;
- embeddings get a small per-vector shift that depends on the seed.

The same arguments always give the same rows. The output directory is
written under a temporary name and renamed when complete, so a killed
run never leaves a half-written input set behind.
"""
import os
import shutil
import sys

import duckdb


def generate(src: str, out: str, seed: int, tables, docs=None) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")

    word = f"(CASE WHEN hash(w || '#{seed}') % 8 = 0 THEN w || 'q{seed % 97}' ELSE w END)"
    limit = f"WHERE doc_id < {docs}" if docs else ""
    sql = {
        "documents": f"""SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
            SELECT doc_id, array_to_string(list_transform(string_split(text, ' '), w -> {word}), ' ') AS text,
              lang, source
            FROM read_parquet('{src}/documents.parquet') {limit})""",
        "embeddings": f"""SELECT vec_id,
            list_transform(embedding,
              x -> (x + ((vec_id * 31 + {seed}) % 7 - 3) * 0.01)::FLOAT) AS embedding, label
          FROM read_parquet('{src}/embeddings.parquet')""",
    }
    for t in tables:
        con.sql(f"COPY ({sql[t]}) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)")
    con.close()
    os.rename(tmp, out)


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4].split(","),
             int(sys.argv[5]) if len(sys.argv) > 5 else None)
