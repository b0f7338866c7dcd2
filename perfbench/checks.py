"""Output checks run after the timed window, and the untimed input pre-read."""
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def pre_read(data_dir):
    """Read every input file once, so a cold page cache is paid in set-up."""
    for d, _, files in os.walk(data_dir):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def query_oracles(data_dir, results_dir):
    """Each key's result must equal its DuckDB oracle on the same tables:
    the same column names and the same multiset of rows (compared in DuckDB,
    so row order does not matter and values are compared exactly). Keys are
    checked in parallel, each on its own cursor."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def check(item):
        key, sql = item
        c = con.cursor()
        c.execute(f"CREATE TEMP TABLE got AS SELECT * FROM read_parquet('{results_dir}/{key}/*.parquet')")
        c.execute(f"CREATE TEMP TABLE want AS {sql}")
        gcols = sorted(c.sql("SELECT * FROM got").columns)
        wcols = sorted(c.sql("SELECT * FROM want").columns)
        if gcols != wcols:
            return f"{key}: columns {gcols} vs oracle {wcols}"
        cols = ", ".join(f'"{x}"' for x in gcols)
        n_got, n_want, extra, missing = c.sql(f"""SELECT
            (SELECT count(*) FROM got), (SELECT count(*) FROM want),
            (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)),
            (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got))""").fetchone()
        if n_got != n_want or extra or missing:
            return f"{key}: {n_got} rows vs oracle {n_want}; {extra} not in the oracle, {missing} missing"
        return None

    with ThreadPoolExecutor(3) as pool:
        return [f for f in pool.map(check, sorted(oracles.items())) if f]


def dedup_pairs(data_dir, pairs_file, processed_hi, threshold=0.8, semantic_threshold=0.98):
    """Every reported text pair must have exact token-set Jaccard at or above
    the threshold (and equal to the reported score, which the dedup rounds
    to 4 decimals); every reported vector pair must have that cosine.
    Returns (failures, share of the planted text near-duplicates whose newer
    doc is at most `processed_hi`, the last doc id of the batches processed,
    that were reported)."""
    texts, vecs = {}, {}
    for f in sorted(os.listdir(data_dir)):
        if f.endswith("_docs.parquet"):
            t = pq.read_table(os.path.join(data_dir, f), columns=["doc_id", "text"]).to_pydict()
            texts.update(zip(t["doc_id"], t["text"]))
        elif f.endswith("_emb.parquet"):
            t = pq.read_table(os.path.join(data_dir, f), columns=["vec_id", "embedding"]).to_pydict()
            vecs.update(zip(t["vec_id"], t["embedding"]))
    sets = {}

    def tokens(i):
        if i not in sets:
            sets[i] = {w for w in texts[i].split(" ") if w}
        return sets[i]

    failures, reported = [], set()
    with open(pairs_file) as f:
        for line in f:
            p = json.loads(line)
            a, b, s = p["a"], p["b"], p["score"]
            if p["kind"] == "text":
                ta, tb = tokens(a), tokens(b)
                j = len(ta & tb) / len(ta | tb)
                if j < threshold or abs(j - s) > 5e-5 + 1e-12:
                    failures.append(f"text pair ({a}, {b}): reported {s}, exact Jaccard {j}")
                reported.add((min(a, b), max(a, b)))
            else:
                va, vb = np.asarray(vecs[a], np.float64), np.asarray(vecs[b], np.float64)
                c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                if c < semantic_threshold - 1e-6 or abs(c - s) > 1e-5:
                    failures.append(f"vector pair ({a}, {b}): reported {s}, exact cosine {c}")
    with open(os.path.join(data_dir, "planted.json")) as f:
        planted = json.load(f)["text"]
    # a planted pair counts once the batch holding its newer doc was processed
    due = [(min(a, b), max(a, b)) for a, b in planted if max(a, b) <= processed_hi]
    caught = sum(1 for p in due if p in reported)
    if not due:
        failures.append("no planted near-duplicate fell in the processed batches")
    return failures, caught / max(len(due), 1)
