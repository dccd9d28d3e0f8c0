"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from `--seed`:

* `tables()` writes the ten parquet tables the registered queries read,
  with the column names, parquet types and value ranges of the
  TPC-H-like tables described in FIXTURES.md section B (one row group
  per table, timestamps as microseconds). Row counts scale with `sf`.
* `corpus()` writes the MapReduce text corpus: a Zipf vocabulary, 0-14
  tokens per line, some title-case and blank lines. It returns the
  expected outputs of the word-count and grep jobs, computed here in
  Python so the check does not share code with the engine.
* `executables()` writes `wc_map.sh` / `wc_reduce.sh` with the semantics
  of the reference job's executables (FIXTURES.md A4).
"""
import collections
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01

DOC_WORDS = ("a agg batch big column customer data dup fast filter group "
             "hash join key line merge order part query row scan slow small "
             "sort spark stream table the value vector window").split()
PART_ADJ = "small red blue hot cold old new big".split()
PART_NOUN = "bolt gear ring widget rod plate anvil nut".split()


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    """Whole-day timestamps (microseconds) uniform in [first, last]."""
    d = rng.integers(first, last + 1, n).astype(np.int64)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def tables(out_dir, seed, sf):
    """Write the ten tables as `<out_dir>/<table>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    p = lambda t: f"{out_dir}/{t}.parquet"  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, EPOCH_1995, EPOCH_1995 + 2403, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, EPOCH_1995 + 1, EPOCH_1995 + 2499, n_line)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + EPOCH_2024 * US_PER_DAY
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 100, n_doc)]
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(size=(n_vec, 64)) / 8.0 + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def _vocabulary(rng, n):
    """`n` distinct lowercase words of two or three syllables, in seeded
    order; "product" sits at rank 60 so the grep job matches a few percent
    of lines."""
    syl = ("ka lo mi ne ru ta vo shi pe da gri fen os bel tur qua zi "
           "mar en ul bo sa ki te no ra li po fa du ve go ha ji wu xe yo "
           "cra pli").split()
    combos = [a + b for a in syl for b in syl] + [
        a + b + c for a in syl for b in syl for c in syl]
    pick = rng.permutation(len(combos))[:n]
    words = [combos[i] for i in pick]
    words[60] = "product"
    return words


def corpus(out_dir, seed, target_bytes, n_files=8, vocab=50_000):
    """Write `n_files` text files of about `target_bytes` in all.

    Returns the expected word-count output (a Counter of `word\\tcount`
    lines), the expected grep output (a Counter of lines) and the size.
    Word-count semantics follow wc_map.sh: split on space, tab, `[` and
    `]`, lowercase A-Z only, so a blank line yields one empty word."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(_vocabulary(rng, vocab))
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.07
    tally = collections.Counter()
    grep = collections.Counter()
    total = 0
    per_file = target_bytes // n_files
    for f in range(n_files):
        lines, size = [], 0
        while size < per_file:
            counts = rng.integers(0, 15, 4096)
            toks = words[rng.choice(vocab, int(counts.sum()), p=zipf / zipf.sum())]
            title = rng.random(len(counts)) < 0.1
            at = 0
            for k, t in zip(counts, title):
                ws = toks[at: at + k]
                at += k
                line = " ".join(w.capitalize() for w in ws) if t else " ".join(ws)
                lines.append(line)
                size += len(line) + 1
                tally.update(ws if len(ws) else [""])
                if line and "product" in line.lower():
                    grep[line] += 1
        data = ("\n".join(lines) + "\n").encode()
        with open(f"{out_dir}/file{f:02d}", "wb") as fh:
            fh.write(data)
        total += len(data)
    expected_wc = collections.Counter(f"{w}\t{c}" for w, c in tally.items())
    return expected_wc, grep, total


WC_MAP = """#!/bin/bash
# word\\t1 for every space/tab/bracket-separated token, lowercased
tr '[ \\t]' '\\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\\t1"}'
"""

WC_REDUCE = """#!/bin/bash
# sorted word\\t1 stream -> word\\tcount
cut -f1 | uniq -c | awk '{print $2"\\t"$1}'
"""


def executables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, body in (("wc_map.sh", WC_MAP), ("wc_reduce.sh", WC_REDUCE)):
        path = f"{out_dir}/{name}"
        with open(path, "w") as fh:
            fh.write(body)
        os.chmod(path, 0o755)
        paths.append(path)
    return paths
