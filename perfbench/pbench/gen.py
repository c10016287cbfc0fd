"""Seeded input generators: the batch tables and the click-event stream.

Everything here is a pure function of its arguments and the seed, so the
same seed always produces byte-identical inputs.
"""
import hashlib
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _dates(rng, n, start_year, span_days):
    start = np.datetime64(f"{start_year}-01-01", "D").astype("int64")
    days = start + rng.integers(0, span_days, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _money(x):
    return np.round(x, 2)


def tables(seed, sf):
    """The ten batch tables (TPC-H-like star schema plus `events`,
    `documents` and `embeddings`), sized like the reference test data at
    scale factor `sf` (sf 0.01 = 60k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(10, int(100 * k)), int(2000 * k)
    n_ord, n_line, n_ev = int(15000 * k), int(60000 * k), int(10000 * k)
    n_users, n_docs, n_vec = max(10, int(150 * k)), int(500 * k), int(500 * k)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _dates(rng, n_ord, 1995, 2405),
        "o_orderpriority": [PRIORITY[i] for i in rng.integers(0, 5, n_ord)]})
    # each order gets a run of line numbers 1..n, orders drawn at random
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    linenum = (np.arange(n_line) - run_start + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    perm = rng.permutation(n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order[perm],
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(linenum[perm]),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n_line)),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _dates(rng, n_line, 1995, 2499)})
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, _money(rng.exponential(50.0, n_ev))),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})
    return out


def write_tables(seed, sf, out_dir):
    """Write every table as `<out_dir>/<name>.parquet` (one row group each,
    as the reference data is laid out). Idempotent per (seed, sf)."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


# ---------------------------------------------------------- click events

DEPTS = ["Kitchen", "Garden", "Books", "Electronics", "Toys", "Sports",
         "Beauty", "Grocery"]
# product codes: 0 = null, 1 = "", 2 = "N/A", 3.. = DEPTS
PRODUCTS = [None, "", "N/A"] + DEPTS
BROWSE, CHECKOUT = 0, 1


def zipf_weights(n_users, exponent):
    w = 1.0 / np.arange(1, n_users + 1) ** exponent
    return w / w.sum()


def click_events(seed, n_events, rate_per_s, n_users, zipf, checkout_p=0.10,
                 noise_p=0.375, mean_visit=8.0, t0_ms=1_700_000_000_000):
    """The reference generator's shape. Users with Zipf-skewed activity (so
    hub users exist) make visits; a visit's events are 50-550 ms apart and
    a user's next visit starts 0.5-2 s after the last one ended, so some
    visits merge into longer sessions and no session grows without end.
    About 10% of events are checkouts, and products carry ""/"N/A"/null
    noise. Visit starts are drawn so the stream runs at about `rate_per_s`
    events per second of event time. Returns arrays in event-time order
    (ties keep generation order): ts_ms, user, etype, product."""
    rng = np.random.default_rng([seed, 2])
    horizon_ms = n_events / rate_per_s * 1000.0
    factor = 1.3
    while True:
        ts, user = _visits(rng, int(n_events / mean_visit * factor) + 16,
                           mean_visit, horizon_ms, n_users, zipf)
        if len(ts) >= n_events:
            break
        # busy users cannot start visits faster than they finish them, so
        # part of the drawn load falls past the horizon: draw more visits
        factor *= 1.1 * n_events / max(len(ts), 1)
    ts, user = ts[:n_events] + t0_ms, user[:n_events]
    etype = (rng.random(n_events) < checkout_p).astype(np.int8)
    noise = rng.random(n_events) < noise_p
    prod = np.where(noise, rng.integers(0, 3, n_events),
                    3 + rng.integers(0, len(DEPTS), n_events)).astype(np.int8)
    prod[etype == CHECKOUT] = 2
    return ts, user, etype, prod


def _visits(rng, n_visits, mean_visit, horizon_ms, n_users, zipf):
    lengths = rng.geometric(1.0 / mean_visit, n_visits)
    starts = rng.uniform(0.0, horizon_ms, n_visits)
    users = rng.choice(n_users, n_visits, p=zipf_weights(n_users, zipf))
    total = int(lengths.sum())
    first = np.r_[0, np.cumsum(lengths)[:-1]]
    gaps = rng.integers(50, 551, total).astype(np.float64)
    gaps[first] = 0.0
    csum = np.cumsum(gaps)
    offs = csum - np.repeat(csum[first], lengths)
    durs = offs[first + lengths - 1]
    idle = rng.uniform(500.0, 2000.0, n_visits)
    # a user's visits never overlap: push each one past the previous end
    by_user = np.lexsort((starts, users))
    last_user, free_at = -1, 0.0
    for v in by_user:
        if users[v] == last_user and starts[v] < free_at:
            starts[v] = free_at
        last_user, free_at = users[v], starts[v] + durs[v] + idle[v]
    ts = np.floor(np.repeat(starts, lengths) + offs).astype(np.int64)
    user = (np.repeat(users, lengths) + 1).astype(np.int32)
    order = np.argsort(ts, kind="stable")
    order = order[ts[order] < horizon_ms]
    return ts[order], user[order]


def open_loop_ticks(ts, start, tick_ms, n_ticks):
    """Open-loop schedule from event `start`: event i is due
    ts[i] - ts[start] ms after the loop starts (event time runs at wall
    speed), and tick k (1-based, at k * tick_ms) adds the events due by
    then, [cuts[k-1], cuts[k]). Returns the n_ticks + 1 cuts."""
    due = ts[start:] - ts[start]
    ticks = np.arange(1, n_ticks + 1, dtype=np.int64) * tick_ms
    return np.concatenate(([start], start + np.searchsorted(due, ticks, side="right")))


def _zigzag(n):
    return (n << 1) ^ (n >> 63)


def _varint(n):
    n = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_str(s):
    b = s.encode("utf-8")
    return _varint(len(b)) + b


def _avro_opt_str(s):
    # union ["string", "null"]: branch 0 = string, 1 = null
    return _varint(1) if s is None else _varint(0) + _avro_str(s)


GSR_UUID = hashlib.md5(b"samples.clickstream.avro.ClickEvent").digest()


def avro_body(i, ts, user, etype, prod):
    """Binary Avro of one ClickEvent (field order of ClickEvent.avsc)."""
    return b"".join((
        _avro_str(f"10.0.{(i >> 8) & 255}.{i & 255}"),
        _varint(int(ts)),
        _avro_str("mobile" if i % 2 == 0 else "web"),
        _avro_opt_str("order_checkout" if etype == CHECKOUT else "browse"),
        _avro_opt_str(PRODUCTS[prod]),
        _varint(int(user)),
        _varint(i + 1),
        _varint(i)))


def glue_frame(body, compress):
    """Glue Schema Registry envelope: version 3, compression byte (0 plain,
    5 zlib), 16-byte schema-version id, then the (maybe deflated) body."""
    head = bytes((3, 5 if compress else 0)) + GSR_UUID
    return head + (zlib.compress(body) if compress else body)


def read_event_times(path):
    """Event times of an events.bin file, in file order."""
    with open(path, "rb") as f:
        b = f.read()
    (n,) = struct.unpack_from("<i", b, 0)
    out, off = np.empty(n, dtype=np.int64), 4
    for i in range(n):
        out[i], length = struct.unpack_from("<q", b, off)[0], struct.unpack_from("<i", b, off + 14)[0]
        off += 18 + length
    return out


def write_events(path, ts, user, etype, prod):
    """events.bin: count, then per event (ts int64, user int32, etype int8,
    product int8, frame length int32, frame bytes), little-endian. Frames
    alternate zlib and plain by user parity, as the app replay test feeds
    them."""
    with open(path + ".tmp", "wb") as f:
        f.write(struct.pack("<i", len(ts)))
        rec = struct.Struct("<qibbi")
        for i in range(len(ts)):
            frame = glue_frame(avro_body(i, ts[i], user[i], etype[i], prod[i]),
                               compress=int(user[i]) % 2 == 0)
            f.write(rec.pack(int(ts[i]), int(user[i]), int(etype[i]),
                             int(prod[i]), len(frame)))
            f.write(frame)
    os.replace(path + ".tmp", path)
