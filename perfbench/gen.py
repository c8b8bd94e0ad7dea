"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.Generator(PCG64(seed))`` and
written with pyarrow, so the same seed gives byte-identical Parquet files.
Schemas and value domains follow the repository's test fixtures
(FIXTURES.md): two-decimal money doubles, whole-number quantities,
midnight dates, µs event timestamps, 64-dim float embeddings and
word-soup documents over a 31-word vocabulary.

The frame archive that ``extract_convert`` and ``ragged_analytics`` read
is encoded by the engine itself (``Workloads.generateArchive`` in the
harness); this module only writes the per-run ``events`` tables it is
encoded from.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dedup.MaxShingleDf: the pair-family operators cap shingle document
# frequency here while the DuckDB oracles do not, so a corpus above it
# would make capped and uncapped pair sets diverge silently.
MAX_SHINGLE_DF = 64

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Input sizes per workload, bounded by the time budget: a run, JVM start
# and set-ups included, must stay well under a minute (see README.md).
SIZES = {
    "extract_convert": {"runs": 4, "events_per_run": 4000},
    "ragged_analytics": {"orders": 12000, "customers": 1500, "parts": 2000,
                         "suppliers": 100, "runs": 4, "events_per_run": 4000},
    "similarity_graph": {"shards": 12, "docs": 160, "vectors": 160, "dim": 64,
                         "orders": 200, "parts": 60, "suppliers": 12},
}

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _rng(seed, *stream):
    """Independent generator per (seed, stream) so tables do not shift
    when another table's size changes."""
    key = [int(seed)] + [int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                         for s in stream]
    return np.random.Generator(np.random.PCG64(key))


def _cents(rng, lo, hi, n):
    """Two-decimal doubles in [lo, hi], exact to the cent."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tpch_tables(rng_seed, stream, n_orders, n_cust, n_parts, n_supp):
    """customer / orders / lineitem in the FIXTURES.md schemas."""
    r = _rng(rng_seed, stream, "customer")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
    })
    r = _rng(rng_seed, stream, "orders")
    odate = EPOCH_1995 + r.integers(0, 2405, n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_cents(r, 1000, 500000, n_orders)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_orders)]),
    })
    r = _rng(rng_seed, stream, "lineitem")
    per = r.integers(1, 8, n_orders)
    n = int(per.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    lineno = (np.arange(n) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, per) + r.integers(1, 122, n) * DAY_US
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_parts, n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(r, 900, 105000, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": _ts(ship),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def events_table(rng_seed, run, n):
    """One detector run's events: ids are unique across runs."""
    r = _rng(rng_seed, "events", str(run))
    ids = np.arange(run * n, (run + 1) * n, dtype=np.int64)
    ts = EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(ids),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(_cents(r, 0.01, 330, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(rng_seed, shard, n):
    """Word-soup documents with planted exact and near duplicates."""
    r = _rng(rng_seed, "documents", str(shard))
    vocab = np.array(VOCAB)
    lang = list(np.array(LANGS)[r.integers(0, 5, n)])
    source = [f"src{k}" for k in r.integers(0, 4, n)]
    texts = []
    for i in range(n):
        kind = r.random()
        if i > 4 and kind < 0.12:
            # a copy of an earlier document in the same (lang, source)
            # block: exact half the time, else with a few words swapped
            src = int(r.integers(0, i))
            lang[i], source[i] = lang[src], source[src]
            words = texts[src].split(" ")
            if kind >= 0.06:
                for j in r.integers(0, len(words), 1 + len(words) // 12):
                    words[j] = vocab[r.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(8, 90)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(shard * n, (shard + 1) * n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng_seed, shard, n, dim):
    """Unit vectors around ten label centroids (label is the blocking key)."""
    r = _rng(rng_seed, "embeddings", str(shard))
    centroids = r.normal(size=(10, dim))
    label = r.integers(0, 10, n)
    v = centroids[label] + 1.5 * r.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    # vec_id starts at 0 in every shard: the graph operators seed and
    # query from vec_id 0, as on the shipped fixtures
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def max_shingle_df(texts):
    """Largest number of documents sharing one word 3-shingle."""
    df = {}
    for t in texts:
        w = t.lower().split(" ")
        for sh in {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}:
            df[sh] = df.get(sh, 0) + 1
    return max(df.values(), default=0)


def check_corpus(texts, where):
    m = max_shingle_df(texts)
    if m > MAX_SHINGLE_DF:
        raise ValueError(
            f"{where}: max shingle df {m} exceeds MaxShingleDf={MAX_SHINGLE_DF}; "
            "capped pair results would diverge from the uncapped oracle")
    return m


def _file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def tree_digest(root):
    """Content hash of every regular file under root, by relative path."""
    h = hashlib.sha256()
    total = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, root)
            h.update(rel.encode() + b"\0" + _file_digest(p).encode() + b"\n")
            total += os.path.getsize(p)
    return h.hexdigest(), total


def generate(workload, seed, out):
    """Write the workload's inputs under ``out``; return the manifest."""
    sz = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    rows = {}

    def put(rel, table):
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write(table, path)
        rows[rel] = table.num_rows

    if workload in ("extract_convert", "ragged_analytics"):
        for run in range(sz["runs"]):
            put(f"events/run{run:03d}.parquet", events_table(seed, run, sz["events_per_run"]))
    if workload == "ragged_analytics":
        for name, t in tpch_tables(seed, "tables", sz["orders"], sz["customers"],
                                   sz["parts"], sz["suppliers"]).items():
            put(f"tables/{name}.parquet", t)
    if workload == "similarity_graph":
        max_df = 0
        for k in range(sz["shards"]):
            docs = documents_table(seed, k, sz["docs"])
            max_df = max(max_df, check_corpus(docs.column("text").to_pylist(),
                                              f"shard {k}"))
            put(f"shards/s{k:03d}/documents.parquet", docs)
            put(f"shards/s{k:03d}/embeddings.parquet",
                embeddings_table(seed, k, sz["vectors"], sz["dim"]))
            put(f"shards/s{k:03d}/lineitem.parquet",
                tpch_tables(seed, f"shard{k}", sz["orders"], 10, sz["parts"],
                            sz["suppliers"])["lineitem"])
    digest, nbytes = tree_digest(out)
    manifest = {"workload": workload, "seed": seed, "sizes": sz, "rows": rows,
                "bytes": nbytes, "sha256": digest}
    if workload == "ragged_analytics":
        # elements of the archive's ragged `pulses` and `series` columns
        # (event_id % 5 and event_id % 7 per event, see Workloads.scala)
        ids = np.arange(sz["runs"] * sz["events_per_run"], dtype=np.int64)
        manifest["pulse_elements"] = int((ids % 5 + ids % 7).sum())
    if workload == "similarity_graph":
        manifest["max_shingle_df"] = max_df
    return manifest
