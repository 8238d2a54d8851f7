"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from a seed:

* ``tables(out_dir)`` writes the ten star-schema tables the query catalog and
  the `boost_rounds`/`dedup_daily` workloads read (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings). Shapes,
  types, row counts and value domains follow the harness testdata at scale
  factor 0.1 (one row group per file). The tables use one fixed seed, so the
  query catalog can check each result against a recorded hash.
* ``multilabel(out_dir, seed, ...)`` writes the `boost_wide` training set as
  `MultiLabelText` lines, split into several input files, plus a held-out file.
* ``dedup_plan(docs, seed, ...)`` picks the base corpus, the daily batches and
  the planted near-copies for `dedup_daily`.

The same seed always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]


def _write(out_dir, name, table):
    # one row group per file, like the harness tables
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _documents(rng, n=5000, n_dups=250):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # planted near-duplicates: a later doc repeats an earlier one plus " dup"
    for j in rng.choice(np.arange(n // 2, n), n_dups, replace=False):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"], dtype=object)[
        rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    sources = [f"src{i % 20}" for i in rng.permutation(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n=2000, dim=64, k=10):
    labels = rng.integers(0, k, n)
    centers = rng.normal(0.0, 1.0, (k, dim))
    x = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(x.astype(np.float32).ravel(), pa.float32()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def tables(out_dir, seed=TABLE_SEED):
    """Write the ten star-schema tables at scale factor 0.1 into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    n = 15000
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)}))
    n = 1000
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99))}))
    n = 20000
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, len(ADJ), n), rng.integers(0, len(NOUN), n))]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1))}))
    n = 150000
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)}))
    n = 600000
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")}))
    n = 100000
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86400 * 10**6, n))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}))
    _write(out_dir, "documents", _documents(rng))
    _write(out_dir, "embeddings", _embeddings(rng))


def multilabel(out_dir, seed, n_points, dim=64, k=10, splits=4, holdout_frac=0.2,
               nnz=16):
    """Write `boost_wide`'s multi-label set as MultiLabelText lines.

    Each point has `nnz` non-zero features out of `dim` and one to four
    positive labels; label l is positive when a label-specific linear score of
    the point is high, so a few dozen stumps beat chance on the held-out file.
    Training lines go to `train/part-0000i.txt` (`splits` files); held-out lines
    to `holdout/part-00000.txt`. Returns the number of training points.
    """
    rng = np.random.default_rng(seed)
    x = np.zeros((n_points, dim))
    cols = np.argsort(rng.random((n_points, dim)), axis=1)[:, :nnz]
    rows = np.repeat(np.arange(n_points), nnz)
    x[rows, cols.ravel()] = np.round(rng.normal(0.0, 1.0, n_points * nnz), 3)
    w = rng.normal(0.0, 1.0, (dim, k)) * (rng.random((dim, k)) < 0.15)
    score = x @ w + rng.normal(0.0, 0.5, (n_points, k))
    # the top-scoring label is always positive, up to three more if high
    y = score > 1.0
    y[np.arange(n_points), score.argmax(axis=1)] = True
    n_hold = int(n_points * holdout_frac)
    n_train = n_points - n_hold
    idx = np.sort(cols, axis=1)
    pairs = np.empty((n_points, 2 * nnz))
    pairs[:, 0::2] = idx
    pairs[:, 1::2] = x[np.arange(n_points)[:, None], idx]
    fmt = " ".join(["%d:%.3f"] * nnz)
    lines = [",".join(map(str, np.flatnonzero(yi)[:4])) + " " + fmt % tuple(row)
             for yi, row in zip(y, pairs.tolist())]
    for d in ("train", "holdout"):
        os.makedirs(os.path.join(out_dir, d), exist_ok=True)
    bounds = np.linspace(0, n_train, splits + 1).astype(int)
    for s in range(splits):
        with open(os.path.join(out_dir, "train", f"part-{s:05d}.txt"), "w") as f:
            f.write("\n".join(lines[bounds[s]:bounds[s + 1]]) + "\n")
    with open(os.path.join(out_dir, "holdout", "part-00000.txt"), "w") as f:
        f.write("\n".join(lines[n_train:]) + "\n")
    return n_train


def dedup_plan(doc_ids, doc_words, seed, base_frac=0.8, n_batches=12,
               copies_per_batch=8, copy_id_base=10_000_000):
    """Split the documents table into a base corpus and daily batches.

    `doc_ids` and `doc_words` (word count per doc) come from the documents
    table. Batch b also carries `copies_per_batch` planted near-copies: the
    text of a doc that is already in the index (the base corpus) plus one
    extra word, which keeps its 5-shingle Jaccard with the source at or above
    16/17. Sources have at least 20 words. Returns a JSON-able dict.
    """
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(doc_ids))
    n_base = int(len(doc_ids) * base_frac)
    base = sorted(int(doc_ids[i]) for i in order[:n_base])
    rest = [int(doc_ids[i]) for i in order[n_base:]]
    per = len(rest) // n_batches
    batches = [sorted(rest[b * per:(b + 1) * per]) for b in range(n_batches)]
    long_base = [d for d in base if doc_words[d] >= 20]
    srcs = rng.choice(long_base, n_batches * copies_per_batch, replace=False)
    copies = []
    for b in range(n_batches):
        for c in range(copies_per_batch):
            j = b * copies_per_batch + c
            copies.append({"batch": b, "doc_id": copy_id_base + j,
                           "source": int(srcs[j]),
                           "extra": WORDS[int(rng.integers(0, len(WORDS)))]})
    return {"base": base, "batches": batches, "copies": copies}
