#!/usr/bin/env python3
"""Regenerate perfbench/loops_expected.json, the cached answers of the loop
queries over the loops corpus.

    python3 perfbench/oracle.py        (from the repository root, after one
                                        run has built the benchmark driver)

l38, l50 and l62 run the independent pins in tools/pin_l38.py, pin_l50.py
and pin_l62.py. l14 and l21 share one answer (near-duplicate clusters).
Their DuckDB oracle SQL in LlmQueries.oracleSql (read through the JVM, not
copied) compares every pair of documents and did not finish in minutes at
2000 documents, so the answer for the corpus.DOCS (5000) documents comes
from `dup_clusters` below: the same 5-word shingle sets and rounded Jaccard
>= 0.5, but with candidate pairs taken from shared shingles and clusters
from union-find. Before it is used, `dup_clusters` must reproduce the
DuckDB oracle SQL exactly on a CHECK_DOCS-document table of the same shape
(corpus.documents_rows). None of this runs graft code. The cache records
the documents' content hash, and run.py refuses a cache made for other
documents.
"""
import json
import os
import re
import subprocess
import sys
import tempfile

from collections import defaultdict

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import run  # noqa: E402

CHECK_DOCS = 300
LOOPS = ["l14_dup_clusters", "l21_dup_clusters_star", "l38_bpe_merges",
         "l50_longest_dup_span", "l62_copy_pagerank"]
PINS = {"l38_bpe_merges": "pin_l38.py", "l50_longest_dup_span": "pin_l50.py",
        "l62_copy_pagerank": "pin_l62.py"}


def pin_sql(script, docs_dir):
    """The VALUES query a pin script prints, with its Scala margins removed."""
    text = subprocess.run([sys.executable, os.path.join(ROOT, "tools", script), docs_dir],
                          check=True, stdout=subprocess.PIPE, text=True).stdout
    if script == "pin_l50.py":
        return "SELECT * FROM (VALUES " + text.strip().splitlines()[-1].strip() + ") t"
    body = text.split('"""', 1)[1].rsplit('"""', 1)[0]
    return "\n".join(re.sub(r"^\s*\|", "", l) for l in body.splitlines())


def dup_clusters(docs_dir):
    """(doc_id, cluster_id) for every document in a near-duplicate pair:
    5-word shingle sets, Jaccard rounded half-up to 4 places >= 0.5,
    cluster_id = smallest doc_id of the connected component."""
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text FROM '{docs_dir}/documents.parquet'").fetchall()
    sh = {}
    post = defaultdict(list)
    for d, text in docs:
        w = text.split(" ")
        s = {"_".join(w[i:i + 5]) for i in range(len(w) - 4)}
        sh[d] = s
        for g in s:
            post[g].append(d)
    cand = set()
    for ids in post.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        if 100000 * inter >= 49995 * union:  # round(inter / union, 4) >= 0.5
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((d, find(d)) for d in parent)


def main():
    os.makedirs(run.WORK, exist_ok=True)
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.WORK) as d:
        corpus.write_documents(d)
        small_dir = os.path.join(d, "small")
        os.makedirs(small_dir)
        corpus.write_documents(small_dir, CHECK_DOCS)
        sql_file = os.path.join(d, "oracle_sql.json")
        run.run_java(cp, "perfbench.Gen", ["oracle-sql", sql_file, "1"], 300)
        with open(sql_file) as f:
            sqls = json.load(f)
        small = duckdb.connect()
        small.execute(f"CREATE VIEW documents AS SELECT * FROM "
                      f"read_parquet('{small_dir}/documents.parquet')")
        for q in ("l14_dup_clusters", "l21_dup_clusters_star"):
            got = small.execute(sqls[q]).fetchall()
            if [tuple(r) for r in got] != dup_clusters(small_dir) or not got:
                sys.exit(f"dup_clusters disagrees with the {q} oracle SQL on {CHECK_DOCS} documents")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{d}/documents.parquet')")
        clusters = dup_clusters(d)
        results = {}
        for q in LOOPS:
            if q in PINS:
                rows = con.execute(pin_sql(PINS[q], d)).fetchall()
            else:
                rows = clusters
            results[q] = [[None if v is None else str(v) for v in r] for r in rows]
            print(f"{q}: {len(rows)} rows", file=sys.stderr)
    # one row a line, so that a regenerated file diffs by row
    with open(os.path.join(HERE, "loops_expected.json"), "w") as f:
        f.write('{"documents_sha256": %s,\n "results": {' % json.dumps(corpus.documents_digest()))
        for n, (q, rows) in enumerate(results.items()):
            f.write(("," if n else "") + "\n  %s: [" % json.dumps(q))
            f.write(",".join("\n   " + json.dumps(r) for r in rows) + "]")
        f.write("}}\n")


if __name__ == "__main__":
    main()
