"""Seeded input generators for the benchmark.

Every input is a pure function of the seed: generating twice gives the same
bytes, and `digest` fingerprints what was generated so the harness can check
that. Two generators:

  tables   TPC-H-shaped parquet tables (plus `events` and `documents`) in the
           schema of the repository's query inputs, for `batch_queries`.
  backlog  a directory of change-event segments (JSON lines, one envelope per
           line) for `cdc_catchup`, with a seeded share of segments replayed
           under later names.
"""
import hashlib
import os
import time

import numpy as np

# Change-event shape. Mirrors CdcOps.toEnvelope: signup/purchase/error are
# row changes, click/view are not (null action, dropped by validation).
EVENT_TYPES = np.array(["signup", "purchase", "error", "click", "view"])
EVENT_WEIGHTS = np.array([0.30, 0.30, 0.20, 0.10, 0.10])
ACTION = {"signup": "insert", "purchase": "update", "error": "delete"}
TABLE = {"signup": "users", "purchase": "orders", "error": "payments",
         "click": "sessions", "view": "sessions"}
# Topology routing the CDC workloads configure; unmapped tables fall back.
TOPICS = {"users": "t.users", "orders": "t.orders"}
FALLBACK = "t.fallback"
MISSING_UUID_SHARE = 0.005
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def uuid_of(wal):
    h = hashlib.md5(str(wal).encode()).hexdigest()
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


class Events:
    """Column arrays of `n` events; `ts_us` is monotone in event_id."""

    def __init__(self, rng, n, start_us, gap_us):
        self.event_id = np.arange(n, dtype=np.int64)
        jitter = rng.integers(0, max(gap_us, 1), n)
        self.ts_us = start_us + self.event_id * gap_us + jitter
        self.user_id = rng.integers(0, 150, n)
        self.event_type = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)]
        self.value = np.round(rng.uniform(0.01, 490.0, n), 2)
        self.k = rng.integers(0, 100, n)
        self.no_uuid = rng.random(n) < MISSING_UUID_SHARE


def envelope_lines(ev, lo, hi, wal_shift=0, ts_shift_us=0):
    """JSON-lines envelopes for events [lo, hi), plus the per-topic count of
    the valid ones and their uuids."""
    ts = np.datetime_as_string((ev.ts_us[lo:hi] + ts_shift_us).astype("datetime64[us]"),
                               unit="us")
    lines, counts, uuids = [], {}, []
    for j, i in enumerate(range(lo, hi)):
        et = str(ev.event_type[i])
        wal = int(ev.event_id[i]) + wal_shift
        action = ACTION.get(et)
        uuid = "" if ev.no_uuid[i] and action else uuid_of(wal)
        table = TABLE[et]
        act = f'"{action}"' if action else "null"
        lines.append(
            f'{{"host":"db1","database":"graft","table":"{table}","action":{act},'
            f'"walPosition":{wal},"timestamp":"{ts[j]}Z","uuid":"{uuid}",'
            f'"columns":{{"event_id":"{wal}","user_id":"{ev.user_id[i]}",'
            f'"event_type":"{et}","value":"{ev.value[i]:.2f}",'
            f'"props":"{{\\"k\\": {ev.k[i]}}}"}}}}')
        if action is not None and uuid:
            topic = TOPICS.get(table, FALLBACK)
            counts[topic] = counts.get(topic, 0) + 1
            uuids.append(uuid)
    return "\n".join(lines) + "\n", counts, uuids


def add_counts(total, counts):
    for k, v in counts.items():
        total[k] = total.get(k, 0) + v


# ---- backlog (cdc_catchup) -------------------------------------------------

REPLICA_EVENTS = 100_000          # WAL positions per replica
REPLICA_SHIFT_US = 30 * 86400 * 1_000_000
REPLAY_SHARE = 0.10
BACKLOG_GAP_US = 25_000_000       # event-time gap of the sf0.1 `events` table


def backlog(seed, events, segment):
    """[(name, bytes)] in delivery order, and the manifest of what a correct
    pipeline must output. Events are replicas of one events table: replica r
    shifts walPosition by r*100000 and time by r*30 days, so WAL order and
    event time stay monotone. About 10% of segments are delivered twice, the
    copy under a later name 1-3 segments after the original."""
    rng = np.random.default_rng(seed)
    per_replica = min(REPLICA_EVENTS, events)
    base = Events(rng, per_replica, EPOCH_US, BACKLOG_GAP_US)
    segs, total, n_valid = [], {}, 0
    for lo in range(0, events, segment):
        hi = min(lo + segment, events)
        r, off = divmod(lo, per_replica)
        text, counts, uuids = envelope_lines(
            base, off, off + (hi - lo), r * REPLICA_EVENTS, r * REPLICA_SHIFT_US)
        segs.append((f"seg-{len(segs):06d}.json", text.encode()))
        add_counts(total, counts)
        n_valid += len(uuids)
    replay = rng.random(len(segs)) < REPLAY_SHARE
    delay = rng.integers(1, 4, len(segs))
    order = []  # (position key, name, bytes)
    for i, (name, data) in enumerate(segs):
        order.append((i, 0, name, data))
        if replay[i]:
            order.append((i + int(delay[i]), 1, f"replay-{name}", data))
    order.sort(key=lambda t: (t[0], t[1]))
    files = [(name, data) for _, _, name, data in order]
    manifest = {"events": events, "segments": len(files),
                "replayed": int(replay.sum()), "valid": n_valid, "topics": total,
                "delivered": sum(data.count(b"\n") for _, data in files)}
    return files, manifest


def digest(files):
    h = hashlib.sha256()
    for name, data in files:
        h.update(name.encode())
        h.update(len(data).to_bytes(8, "little"))
        h.update(data)
    return h.hexdigest()


def write_files(out_dir, files, mtime0):
    """Write segments with strictly increasing mtimes: the file source takes
    the oldest files first, so delivery order is the mtime order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, data) in enumerate(files):
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(data)
        t = mtime0 + i * 0.01
        os.utime(path, (t, t))


# ---- tables (batch_queries) --------------------------------------------------

def tables(seed, scale):
    """{name: pyarrow.Table}. Row counts and value domains follow the
    repository's TPC-H-shaped query inputs (FIXTURES.md) at `scale`."""
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 10), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    day_us = 86400 * 1_000_000
    d1995 = 9131 * day_us  # 1995-01-01
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "red", "blue", "hot", "old", "new", "big", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod", "nut", "pin"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    orderdate = d1995 + rng.integers(0, 2404, n_ord) * day_us
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array((np.arange(n_li) - run_start + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(orderdate[l_order] + rng.integers(1, 122, n_li) * day_us,
                               pa.timestamp("us"))})
    gap = int(30 * day_us / max(n_ev, 1))
    ev = Events(rng, n_ev, EPOCH_US, gap)
    t["events"] = pa.table({
        "event_id": ev.event_id, "ts": pa.array(ev.ts_us, pa.timestamp("us")),
        "user_id": ev.user_id.astype(np.int64), "event_type": ev.event_type,
        "value": ev.value, "props": [f'{{"k": {k}}}' for k in ev.k]})
    vocab = np.array("join hash row batch scan column customer filter small slow merge "
                     "order vector line table data agg value key stream window a spark "
                     "part group big sort query fast the".split())
    texts = []
    for i in range(500):
        if i > 0 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(500, dtype=np.int64), "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, 500)],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return t


def table_bytes(tbls):
    import io
    import pyarrow.parquet as pq
    out = []
    for name in sorted(tbls):
        buf = io.BytesIO()
        pq.write_table(tbls[name], buf)
        out.append((f"{name}.parquet", buf.getvalue()))
    return out


def timed_repeats(make, repeats):
    """Run `make` `repeats` times; return (result, median seconds, digests)."""
    times, digests, result = [], [], None
    for _ in range(repeats):
        t = time.perf_counter()
        result = make()
        times.append(time.perf_counter() - t)
        digests.append(digest(result[0]))
    return result, sorted(times)[len(times) // 2], digests

