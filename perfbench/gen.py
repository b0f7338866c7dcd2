"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here (or, for the harvest
landing files, by the harness from the same seed), so a run depends only on
its `--seed`. The report tables follow the schemas (FIXTURES.md) and value
domains of the sf0.1 star-schema fixture that the query keys and their
DuckDB oracles are written against: region/nation/supplier/customer/part/
orders/lineitem plus the `events` time series. Matched against that
fixture: row counts; key ranges and foreign keys drawn uniformly over them
(orders per customer, lines per order); nation n -> region n % 5; order and
ship date ranges at day precision; 1 500 users drawn uniformly (the
fixture has 45-99 events per user); one event per distinct microsecond
timestamp over January 2024, in event_id order; five event types in equal
shares; 100 distinct props. Assumed, not matched value for value: the money
and price distributions (uniform over the fixture's ranges) and the event
values (exponential, mean 50).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    """Midnight timestamps (µs) uniformly over `n_days` days from `start`."""
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, n_days, n) * DAY_US).astype("datetime64[us]")


def report_tables(out_dir, seed, sf):
    """The star schema + events at scale factor `sf` (lineitem = 6 M × sf)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    # distinct microsecond timestamps over 30 days of January 2024, rising with event_id
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    step = 30 * DAY_US // n_ev
    ts = ts0 + np.arange(n_ev, dtype=np.int64) * step + rng.integers(0, step, n_ev)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})


LANGS = ["de", "en", "es", "fr", "zh"]


def _near_dup(rng, text, vocab_size):
    """A copy of `text` with about 3 % of its distinct words swapped for
    fresh ones: exact Jaccard stays at or above 0.9."""
    tokens = text.split(" ")
    distinct = list(dict.fromkeys(tokens))
    k = max(1, len(distinct) // 33)
    swap = rng.choice(len(distinct), k, replace=False)
    fresh = {distinct[i]: f"x{rng.integers(vocab_size)}" for i in swap}
    return " ".join(fresh.get(t, t) for t in tokens)


def dedup_inputs(out_dir, seed, corpus_docs, batches, batch_docs, vocab, dup_share=0.08, dim=64):
    """A crawl in the documents/embeddings schema: a corpus plus `batches`
    ingest batches. Texts draw 30-79 words from a Zipfian vocabulary of
    `vocab` words; a
    `dup_share` of each batch is planted near-duplicates of earlier
    documents (corpus, earlier batches, or earlier in the same batch), and
    the same share of batch vectors are perturbed copies of earlier vectors.
    The planted pairs go to planted.json."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    words = np.array([f"w{i}" for i in range(vocab)])
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    p /= p.sum()
    centers = rng.normal(0.0, 1.0, (10, dim))
    texts, langs = [], []
    vecs, labels = np.zeros((0, dim)), np.zeros(0, dtype=np.int32)
    planted = {"text": [], "vector": []}

    def fresh(n):
        nonlocal vecs, labels
        lengths = rng.integers(30, 80, n)
        toks = words[rng.choice(vocab, lengths.sum(), p=p)]
        texts.extend(" ".join(t) for t in np.split(toks, np.cumsum(lengths)[:-1]))
        langs.extend(np.array(LANGS)[rng.integers(0, 5, n)].tolist())
        lab = rng.integers(0, 10, n).astype(np.int32)
        vecs = np.vstack([vecs, centers[lab] + rng.normal(0.0, 1.0, (n, dim))])
        labels = np.concatenate([labels, lab])

    def write(name, lo, hi):
        ids = np.arange(lo, hi, dtype=np.int64)
        _write(out_dir, f"{name}_docs", {
            "doc_id": ids, "text": texts[lo:hi], "lang": langs[lo:hi],
            "source": [f"src{i % 20}" for i in range(lo, hi)],
            "n_chars": np.array([len(t) for t in texts[lo:hi]], dtype=np.int64)})
        _write(out_dir, f"{name}_emb", {
            "vec_id": ids,
            "embedding": pa.array(list(vecs[lo:hi].astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels[lo:hi], pa.int32())})

    fresh(corpus_docs)
    write("corpus", 0, corpus_docs)
    for b in range(batches):
        lo = len(texts)
        fresh(batch_docs)
        for new in range(lo, lo + batch_docs):
            if rng.random() < dup_share:
                src = int(rng.integers(new))
                texts[new] = _near_dup(rng, texts[src], vocab)
                langs[new] = langs[src]
                planted["text"].append([new, src])
            if rng.random() < dup_share:
                src = int(rng.integers(new))
                vecs[new] = vecs[src] + rng.normal(0.0, 0.01, dim)
                labels[new] = labels[src]
                planted["vector"].append([new, src])
        write(f"batch_{b:03d}", lo, len(texts))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f)
