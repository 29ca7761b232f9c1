#!/usr/bin/env python3
"""Measure the shape of the suite tables in a directory.

Usage:
  python3 perfbench/shape.py <dir with documents/embeddings/lineitem.parquet>
  python3 perfbench/shape.py --seed <n>     # the tables gen.py makes

Prints one JSON object with the figures `gen.make_suite` is set to
reproduce: row counts, words and characters per document, language shares,
exact and near duplicates, documents that the curate scrub stage rewrites
(emails, long digit runs), embedding cluster structure and the line-item
key ranges. NOTES.md lists them for the sf0.01 test tables and for the
generated ones.
"""
import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# the patterns CorpusOps.scrubText redacts
EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM = r"[0-9]{9,}"


def measure(d):
    import duckdb
    import numpy as np
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(d, t + '.parquet')}')")

    def one(sql):
        return con.execute(sql).fetchone()
    n, distinct, emails, longnums = one(
        f"SELECT count(*), count(DISTINCT text), "
        f"sum(regexp_matches(text, '{EMAIL}')::int), "
        f"sum(regexp_matches(text, '{LONGNUM}')::int) FROM documents")
    texts = [r[0] for r in con.execute("SELECT text FROM documents")
             .fetchall()]
    words = [len(t.split()) for t in texts]
    chars = [len(t) for t in texts]
    present = set(texts)
    # a near duplicate is another document's text plus trailing " dup"s
    near = 0
    for t in texts:
        base = t
        while base.endswith(" dup"):
            base = base[:-4]
            if base in present:
                near += 1
                break
    langs = dict(con.execute("SELECT lang, count(*) FROM documents "
                             "GROUP BY 1").fetchall())
    vocab, sources = one("SELECT count(DISTINCT w), count(DISTINCT source) "
                         "FROM (SELECT unnest(string_split(text, ' ')) AS w, "
                         "source FROM documents)")

    rows = con.execute("SELECT embedding, label FROM embeddings").fetchall()
    x = np.array([r[0] for r in rows], dtype="float64")
    lab = np.array([r[1] for r in rows])
    cl = sorted(set(lab.tolist()))
    means = np.array([x[lab == c].mean(axis=0) for c in cl])
    sizes = [int((lab == c).sum()) for c in cl]
    within = np.linalg.norm(x - means[np.searchsorted(cl, lab)], axis=1)

    li = one("SELECT count(*), count(DISTINCT l_orderkey), min(l_orderkey), "
             "max(l_orderkey), count(DISTINCT l_partkey), "
             "count(DISTINCT l_suppkey), min(l_linenumber), "
             "max(l_linenumber), min(l_shipdate)::date::varchar, "
             "max(l_shipdate)::date::varchar FROM lineitem")
    per_order = one("SELECT median(c), max(c) FROM (SELECT count(*) AS c "
                    "FROM lineitem GROUP BY l_orderkey)")

    def q(v):
        return [round(float(a), 1) for a in np.percentile(v, [0, 25, 50, 75,
                                                               100])]
    return {
        "documents": {
            "rows": n, "words_q0_q25_q50_q75_q100": q(words),
            "chars_q0_q25_q50_q75_q100": q(chars),
            "vocabulary": vocab, "sources": sources,
            "lang_share": {k: round(v / n, 3) for k, v in sorted(
                langs.items())},
            "exact_dup_share": round((n - distinct) / n, 3),
            "near_dup_share": round(near / n, 3),
            "email_docs": emails, "longnum_docs": longnums},
        "embeddings": {
            "rows": len(x), "dim": x.shape[1],
            "norm_min_max": [round(float(v), 4) for v in
                             (np.linalg.norm(x, axis=1).min(),
                              np.linalg.norm(x, axis=1).max())],
            "clusters": len(cl), "cluster_size_min_max": [min(sizes),
                                                          max(sizes)],
            "cluster_mean_norm_median": round(float(np.median(
                np.linalg.norm(means, axis=1))), 3),
            "within_cluster_dist_median": round(float(np.median(within)), 3)},
        "lineitem": {
            "rows": li[0], "orders": li[1], "orderkey_min_max": [li[2], li[3]],
            "lines_per_order_median_max": [float(per_order[0]),
                                           per_order[1]],
            "parts": li[4], "suppliers": li[5],
            "linenumber_min_max": [li[6], li[7]],
            "shipdate_min_max": [li[8], li[9]]}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("dir", nargs="?")
    ap.add_argument("--seed", type=int)
    a = ap.parse_args()
    if a.seed is not None:
        import gen
        scratch = os.path.join(os.path.dirname(HERE), ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            gen.make_suite(a.seed, d)
            print(json.dumps(measure(d), indent=1))
    elif a.dir:
        print(json.dumps(measure(a.dir), indent=1))
    else:
        ap.error("give a directory or --seed")


if __name__ == "__main__":
    main()
