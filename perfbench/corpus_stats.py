#!/usr/bin/env python3
"""Shape of a corpus: the figures perfbench/LAYERS.md compares between the
sf0.1 tables and the generated corpus that stands in for them.

    python3 perfbench/corpus_stats.py <dir>

`<dir>` holds `documents`, `embeddings`, `orders` and `lineitem`, each a
parquet file or a directory of parquet files: an sf0.1 testdata dir, or
`.bench_build/cache/corpus-*` after a benchmark run.
"""
import collections
import os
import statistics
import sys

import duckdb
import numpy as np


def table(d, name):
    p = os.path.join(d, f"{name}.parquet")
    return f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"


def main():
    d = sys.argv[1]
    con = duckdb.connect()
    docs = con.sql(f"SELECT text, lang, source FROM {table(d, 'documents')}").fetchall()
    words = [len(t.split()) for t, _, _ in docs]
    vocab = {w for t, _, _ in docs for w in t.split()}
    dups = sum(1 for t, _, _ in docs if t.split()[-1] == "dup")
    langs = collections.Counter(l for _, l, _ in docs)
    print(f"documents {len(docs)}; words/doc min {min(words)} mean {statistics.mean(words):.1f} "
          f"max {max(words)}; vocabulary {len(vocab)}; near-duplicates {100 * dups / len(docs):.1f}%; "
          f"sources {len({s for _, _, s in docs})}; languages "
          + ", ".join(f"{k} {100 * n / len(docs):.0f}%" for k, n in langs.most_common()))
    emb = con.sql(f"SELECT embedding, label FROM {table(d, 'embeddings')}").fetchall()
    x = np.array([e for e, _ in emb])
    print(f"embeddings {len(emb)}; dim {x.shape[1]}; mean norm {np.linalg.norm(x, axis=1).mean():.4f}; "
          f"per-dim std {x.std(0).mean():.3f}; labels {len({l for _, l in emb})}")
    o, custs = con.sql(f"SELECT count(*), count(DISTINCT o_custkey) FROM {table(d, 'orders')}").fetchone()
    l, lo, supps = con.sql(f"SELECT count(*), count(DISTINCT l_orderkey), count(DISTINCT l_suppkey) "
                           f"FROM {table(d, 'lineitem')}").fetchone()
    print(f"orders {o}; orders/customer {o / custs:.1f}; lineitems {l}; lines/order {l / o:.2f}; "
          f"orders with lines {100 * lo / o:.1f}%; orders/supplier {o / supps:.0f}")


if __name__ == "__main__":
    main()
