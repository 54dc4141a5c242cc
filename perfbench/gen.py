"""Seeded input generator for the benchmark.

Writes the ten tables the engine's loaders read (`graft.Tables`), one
parquet file each, in the shape of the repository's TESTDATA.md tables:
TPC-H-ish dimensions and facts, an `events` feed, a `documents` corpus
with ~5% "<text> dup" near-duplicates, and unit-norm 64-d `embeddings`.
Time columns are timestamp-without-timezone in microseconds, as the
loaders expect. The same (scale, seed) always gives the same bytes.

`copies > 1` applies the `graft.ScaleUp` per-copy-suffix scheme to the
documents and embeddings: copy i shifts the id by i * n and appends
" rep<i>" to each text (copy 0 unchanged), so every document has a
cross-copy near-duplicate family the dedup operators must resolve;
embedding copies keep their values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
FEED_KEYS = 10_000   # user-key cardinality of the speed-layer feed
FEED_SPAN_S = 10     # event-time span of one feed file (SpeedLayer.FileSpanSec)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _day(start, rng, lo_days, hi_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return _ts(base + rng.integers(lo_days, hi_days + 1, n) * US_PER_DAY)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _texts(rng, n):
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    flat = words[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - k:e]) for e, k in zip(ends, lens)]
    # ~5% near-duplicates: an original document's text plus a " dup"
    # token (never a duplicate's, so the duplicate graph has the same
    # shape, and connected components the same depth, for every seed)
    dup = rng.random(n) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return texts


def generate(out, sf, seed, copies=1):
    """Write every table for scale factor `sf` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _day("1995-01-01", rng, 0, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    okeys = rng.integers(0, n_ord, n_line)
    okeys[0] = n_ord - 1  # the max order key always has a line item
    _write(out, "lineitem", {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _day("1995-01-02", rng, 0, 2498, n_line)})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.choice(30 * US_PER_DAY, n_evt, replace=False))
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(t0 + ts),
        "user_id": rng.integers(0, max(15, n_cust // 10), n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = _texts(rng, n_doc)
    langs = np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]
    doc_text = [t if c == 0 else f"{t} rep{c}"
                for c in range(copies) for t in texts]
    _write(out, "documents", {
        "doc_id": np.arange(n_doc * copies, dtype=np.int64),
        "text": doc_text,
        "lang": np.tile(langs, copies),
        "source": [f"src{i % 20}" for i in range(n_doc * copies)],
        "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    emb = np.tile(emb, (copies, 1))
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb * copies, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            emb.reshape(-1), 64).cast(pa.list_(pa.float32())),
        "label": np.tile(rng.integers(0, 10, n_emb), copies).astype(np.int32)})


def feed(out, seed, files, rows_per_file):
    """Write the speed-layer event feed: file f (`feed-<f>.parquet`) holds
    20-row bursts that share an event type, a cube-skewed user key and one
    instant in [T0 + f*FEED_SPAN_S, T0 + (f+1)*FEED_SPAN_S). From file 2
    on, 10% of bursts are 120 s late: far enough below the previous file's
    events that the 30 s watermark drops them whichever batch they land in.
    Modification times increase with f, so the file source reads the files
    in order.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "s").astype(np.int64)
    bursts = rows_per_file // 20
    for f in range(files):
        sec = t0 + f * FEED_SPAN_S + rng.integers(0, FEED_SPAN_S, bursts)
        if f >= 2:
            sec = np.where(rng.random(bursts) < 0.1, sec - 120, sec)
        user = np.floor(rng.random(bursts) ** 3 * FEED_KEYS).astype(np.int64)
        etype = np.array(["click", "view", "purchase"])[
            rng.integers(0, 3, bursts)]
        path = os.path.join(out, f"feed-{f:05d}.parquet")
        pq.write_table(pa.table({
            "ts": pa.array(np.repeat(sec, 20) * 1_000_000,
                           type=pa.timestamp("us", tz="UTC")),
            "event_type": np.repeat(etype, 20),
            "user_id": np.repeat(user, 20),
            "value": np.round(rng.random(bursts * 20) * 99.7, 1)}), path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
