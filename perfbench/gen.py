"""Seeded input generator for the benchmark.

Writes the ten fixture tables the query builders read (the TPC-H-like star
schema, `events`, `documents`, `embeddings`) with the same schemas and
value distributions as the repository's fixtures, plus the stream replay
schedule. Every value comes from `numpy.random.default_rng` streams spawned
from the one seed, so the same seed and scale give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * DAY_US


def _days_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def event_rows(rng, n, n_users):
    """`events` columns: ts strictly in event_id order, exponential gaps."""
    gaps = rng.exponential(1.0, n)
    ts = EVENTS_START_US + np.floor(np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_US - 60_000_000)).astype(np.int64)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _events_table(cols):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": _ts(cols["ts"]),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def tables(seed, sf):
    """The fixture tables at scale factor `sf` as {name: pyarrow.Table}."""
    rngs = {name: np.random.default_rng(s) for name, s in zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"],
        np.random.SeedSequence(seed).spawn(8))}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = rngs["part"]
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    r = rngs["orders"]
    d0 = _days_us(1995, 1, 1) // DAY_US
    d1 = _days_us(2001, 8, 1) // DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(r.integers(d0, d1 + 1, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = rngs["lineitem"]
    s0 = _days_us(1995, 1, 2) // DAY_US
    s1 = _days_us(2001, 11, 4) // DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(r.integers(s0, s1 + 1, n_line) * DAY_US)})
    out["events"] = _events_table(event_rows(rngs["events"], n_ev, max(1, int(15_000 * sf))))
    r = rngs["documents"]
    lens = r.integers(10, 101, n_docs)
    words = np.array(VOCAB)
    base = [" ".join(words[r.integers(0, len(VOCAB), k)]) for k in lens]
    texts = list(base)
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        texts[i] = base[r.integers(0, n_docs)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = rngs["embeddings"]
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


STREAM_GAP_US = 250_000    # mean event spacing: a 1000-row batch spans about one window
DISORDER_US = 8_000_000    # bounded disorder, below the 10 s watermark delay
DELAY_US = 10_000_000      # the pipelines' watermark delay
LATE_SHARE = 0.01


def stream_rows(seed, n_batches):
    """Replay schedule for the stream workload: `n_batches` micro-batches of
    500-1500 rows in event-time order with bounded disorder, plus a share of
    rows placed at least six minutes behind the watermark the batch is
    checked against.

    A row's replay key is ts + U(0, 8 s), so an on-time row is never more
    than 8 s behind any row replayed before it and no pipeline drops it.
    Spark drops a row as late against the watermark of the previous
    micro-batch, which comes from the batches before that one. So a late row
    in batch k >= 2 gets ts = W - U(6, 30) min, where W is the lower of the
    view and click maxima over batches 0..k-2, minus the delay; its tumbling
    window has closed in every pipeline, and each one that applies a
    watermark drops it. Returns a pyarrow table in replay order.
    """
    r = np.random.default_rng(np.random.SeedSequence(seed).spawn(9)[8])
    sizes = r.integers(500, 1501, n_batches)
    n = int(sizes.sum())
    cols = event_rows(r, n, 1500)
    cols["ts"] = EVENTS_START_US + np.cumsum(r.exponential(STREAM_GAP_US, n)).astype(np.int64)
    order = np.argsort(cols["ts"] + r.integers(0, DISORDER_US, n), kind="stable")
    cols = {k: v[order] for k, v in cols.items()}
    batch = np.repeat(np.arange(n_batches, dtype=np.int32), sizes)
    late = (r.random(n) < LATE_SHARE) & (batch > 1)
    behind = r.integers(6 * 60_000_000, 30 * 60_000_000, n)
    ts, etype = cols["ts"], cols["event_type"]
    ends = np.cumsum(sizes)
    maxima = []  # (view max, click max) over on-time rows of batches 0..b
    for b in range(n_batches):
        rows = slice(ends[b] - sizes[b], ends[b])
        if b > 1:
            w = min(maxima[b - 2]) - DELAY_US
            idx = np.flatnonzero(late[rows]) + ends[b] - sizes[b]
            ts[idx] = w - behind[idx]
        prev = maxima[-1] if maxima else (None, None)
        cur = []
        for kind, m in zip(("view", "click"), prev):
            sel = ts[rows][~late[rows] & (etype[rows] == kind)]
            top = int(sel.max()) if len(sel) else None
            cur.append(max(x for x in (m, top) if x is not None))
        maxima.append(tuple(cur))
    t = _events_table(cols).drop_columns(["props"])
    t = t.set_column(1, "ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
    return t.add_column(0, "seq", pa.array(np.arange(n), pa.int64())) \
        .add_column(1, "batch", pa.array(batch)) \
        .add_column(2, "late", pa.array(late))


def write_stream(seed, n_batches, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    _write(stream_rows(seed, n_batches), os.path.join(out_dir, "stream.parquet"))
