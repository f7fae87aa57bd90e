#!/usr/bin/env python3
"""Seeded wide-basket generator in the reference's text format: one basket per
line, a customer token, then product ids in purchase order.

Usage: python3 perfbench/gen_wide_baskets.py SEED OUT_FILE

Shape (the `wide_baskets` entry of perfbench/workloads.json): baskets tens of
items wide, drawn from a Zipf-skewed vocabulary of string ids with one hot
product; a share of slots repeats an earlier item of the same basket, which
closes that item's co-occurrence window; a share of the vocabulary is
non-numeric. The FIXTURES section 1 lines (the two reference baskets and the
edge cases), blank lines and extra whitespace are mixed in at seeded places.

Prints one JSON line of input stats, including the repeat-terminated window
pairs and the distinct pairs they aggregate to, so the aggregate's combine
ratio is a stated property of the input.
"""
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

FIXTURE_LINES = [
    "Mary 34 56 29 12 34 56 92 29 34 12",
    "Kelly 92 29 12 34 79 29 56 12 34 18",
    "Bob",
    "Bob 7",
    "Bob 7 7",
    "Bob 1 2 1 3",
    "Bob 1 2 2 1",
    "Bob a b",
    "Bob  1\t2",
]


def shape():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)["wide_baskets"]["input"]


def vocabulary(rng, p):
    n = p["vocabulary"]
    ids = rng.permutation(n * 10)[:n]
    non_numeric = rng.random(n) < p["non_numeric_share"]
    return [f"sku-{i:x}" if nn else str(i) for i, nn in zip(ids, non_numeric)]


def baskets(rng, p, vocab):
    """Yields product-id lists. Slot draws: the hot product with
    `hot_share`, else a repeat of an earlier slot with `repeat_rate`, else a
    Zipf(`zipf_exponent`) rank over the rest of the vocabulary."""
    ranks = np.arange(1, len(vocab))
    weights = ranks ** -p["zipf_exponent"]
    cdf = np.cumsum(weights / weights.sum())
    lo, hi = p["width_min"], p["width_max"]
    for _ in range(p["baskets"]):
        width = int(rng.integers(lo, hi + 1))
        u = rng.random((width, 3))
        items = []
        for k in range(width):
            if u[k, 0] < p["hot_share"]:
                items.append(vocab[0])
            elif items and u[k, 1] < p["repeat_rate"]:
                items.append(items[int(u[k, 2] * len(items))])
            else:
                items.append(vocab[1 + int(np.searchsorted(cdf, u[k, 2]))])
        yield items


def messy(rng, line):
    """Extra whitespace the parser must tolerate: tabs, doubled spaces,
    leading and trailing blanks."""
    seps = rng.choice([" ", "  ", "\t", " \t "], size=line.count(" "))
    parts = line.split(" ")
    out = parts[0] + "".join(s + w for s, w in zip(seps, parts[1:]))
    return " " + out + "\t "


def window_stats(lines):
    """Window pairs and distinct pairs under the engine's semantics: tokens
    split on whitespace, token 0 skipped, each occurrence's window runs to
    the first repeat of itself or the end of the basket."""
    intern = {}
    keys = []
    n_baskets = n_items = 0
    for line in lines:
        toks = line.split()
        if not toks:
            continue
        n_baskets += 1
        ids = np.array([intern.setdefault(t, len(intern)) for t in toks[1:]], dtype=np.int64)
        n_items += len(ids)
        nxt, seen = [len(ids)] * len(ids), {}
        for i in range(len(ids) - 1, -1, -1):
            nxt[i] = seen.get(ids[i], len(ids))
            seen[ids[i]] = i
        for i in range(len(ids) - 1):
            if nxt[i] > i + 1:
                keys.append(ids[i] * (1 << 32) + ids[i + 1:nxt[i]])
    allk = np.concatenate(keys) if keys else np.zeros(0, dtype=np.int64)
    window_pairs = int(allk.size)
    distinct = int(np.unique(allk).size)
    return {"baskets": n_baskets, "items": n_items, "distinct_products": len(intern),
            "window_pairs": window_pairs, "distinct_pairs": distinct,
            "combine_ratio": distinct / window_pairs if window_pairs else 0.0}


def generate(seed, out_file):
    p = shape()
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, p)
    lines = [f"c{n:06d} " + " ".join(items)
             for n, items in enumerate(baskets(rng, p, vocab))]
    for i in np.flatnonzero(rng.random(len(lines)) < p["messy_line_share"]):
        lines[i] = messy(rng, lines[i])
    extras = FIXTURE_LINES + [""] * p["blank_lines"]
    for line in extras:
        lines.insert(int(rng.integers(0, len(lines) + 1)), line)
    with open(out_file, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    stats = window_stats(lines)
    stats.update(lines=len(lines), blank_lines=p["blank_lines"], seed=seed)
    return stats


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2])))
