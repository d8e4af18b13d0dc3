"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
sizes give byte-identical files (pinned by test_perfbench.py).

- ``tables``: the ten harness tables (TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``) with the column names and parquet types
  the declared queries read.
- ``pipeline``: one NDJSON landing file per backfill date under
  ``landing/<ds>/events.json``, a YAML spec that runs every check type, and
  ``planted.json`` with each date's expected verdict, failing checks and
  rows; a seed-chosen subset of the dates violates every check.
- ``stream``: ``K`` NDJSON increments of ``E`` events in event-time order.
  Users go idle in turns, so sessions close while the stream runs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "stream filter group big vector").split()


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    return (_us(start) + rng.integers(0, span + 1, n) * 86_400_000_000)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(out, seed, sf):
    """Writes <out>/<name>.parquet for the ten harness tables."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(50, int(15_000 * sf)), max(200, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    ts = pa.timestamp("us")

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    r = _rng(seed, 1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    r = _rng(seed, 3)
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}),
        f"{out}/part.parquet")

    r = _rng(seed, 4)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(_days(r, dt.datetime(1995, 1, 1),
                                      dt.datetime(2001, 8, 1), n_ord), ts),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    r = _rng(seed, 5)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(r, dt.datetime(1995, 1, 2),
                                     dt.datetime(2001, 11, 4), n_line), ts)}),
        f"{out}/lineitem.parquet")

    r = _rng(seed, 6)
    start = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(start + r.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    r = _rng(seed, 7)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(8, 100))])
             for _ in range(n_docs)]
    # a few exact and near duplicates, so the dedup tier has work to find
    for i in range(0, n_docs - 1, 97):
        texts[i + 1] = texts[i] if i % 2 else texts[i] + " extra"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_docs)],
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def _ts_strs(us):
    """Microsecond epoch timestamps as 'YYYY-MM-DD HH:MM:SS.ffffff'."""
    return np.char.replace(np.datetime_as_string(np.asarray(us).astype("datetime64[us]"),
                                                 unit="us"), "T", " ").tolist()


def _ndjson(path, lines):
    """Writes pre-formatted JSON lines; the rename makes the file appear whole."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.replace(tmp, path)


# The checks a failing date violates, in spec order; each planted violation
# fails exactly the check it names.
VIOLATIONS = ["min_row_count", "required_columns", "unique_column",
              "null_ratio", "value_range", "freshness"]

SPEC = """pipeline_info:
  name: bench_events
  owner: perfbench
  schedule: "@daily"
  tags: [bench]
  description: backfill of landed clickstream files
source:
  type: json
  path: "__INPUTS__/landing/{{ ds }}/events.json"
destination:
  bucket: "__WORK__/raw"
  path: "events/{{ ds }}"
data_quality_checks:
  - check_type: source_exists
    path: "__INPUTS__/landing/{{ ds }}/events.json"
  - check_type: min_row_count
    threshold: __MIN_ROWS__
  - check_type: required_columns
    columns: [event_id, ts, user_id, event_type, value]
  - check_type: unique_column
    column: event_id
  - check_type: null_ratio
    column: user_id
    max_ratio: 0.01
  - check_type: value_range
    column: value
    min: 0
    max: 1000
  - check_type: freshness
    column: ts
    as_of: "__AS_OF__"
    max_age_days: 2
  - check_type: row_hash_audit
"""


def pipeline(out, seed, n_dates, rows):
    """Landing files, spec and planted outcomes for a backfill of n_dates.

    The spec names its directories by placeholders, __INPUTS__ and __WORK__,
    which the harness fills in, so the files do not depend on where they are.
    """
    r = _rng(seed, 11)
    first = dt.date(2024, 3, 1) + dt.timedelta(days=int(r.integers(0, 200)))
    dates = [first + dt.timedelta(days=i) for i in range(n_dates)]
    # A seed-chosen third of the dates (at least one, never all) fail, each
    # with every violation at once: both verdict branches run in every pass,
    # and every seed gives a pass the same work.
    failing = set(r.permutation(n_dates)[:max(1, min(n_dates - 1, n_dates // 3))].tolist())
    planted = []
    next_id = 0
    for j, d in enumerate(dates):
        bad = j in failing
        # 1% short of the threshold, so a failing date costs what a passing one does
        n = rows - rows // 100 if bad else rows
        day = _us(dt.datetime(d.year, d.month, d.day))
        if bad:  # freshness
            day -= 10 * 86_400_000_000
        ids = np.arange(next_id, next_id + n)
        next_id += n
        if bad:  # unique_column
            ids[1::50] = ids[0::50][:len(ids[1::50])]
        users = r.integers(0, 5000, n)
        null_user = (r.random(n) < 0.05) if bad else np.zeros(n, bool)  # null_ratio
        values = np.round(r.uniform(0, 999, n), 2)
        if bad:  # value_range
            values[::100] = 5000.0
        ts = np.sort(day + r.integers(0, 86_400_000_000, n))
        etypes = r.integers(0, 5, n)
        user_s = np.where(null_user, "null", users.astype(str)).tolist()
        type_s = ([""] * n if bad else  # required_columns
                  [f',"event_type":"{EVENT_TYPES[t]}"' for t in etypes.tolist()])
        os.makedirs(f"{out}/landing/{d}", exist_ok=True)
        _ndjson(f"{out}/landing/{d}/events.json", (
            f'{{"event_id":{i},"ts":"{t}","user_id":{u}{e},"value":{v!r}}}\n'
            for i, t, u, e, v in zip(ids.tolist(), _ts_strs(ts), user_s, type_s,
                                     values.tolist())))
        planted.append({"ds": str(d), "passed": not bad,
                        "failing": VIOLATIONS if bad else [], "rows": n})
    with open(f"{out}/spec.yaml", "w") as f:
        f.write(SPEC.replace("__MIN_ROWS__", str(rows)))
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f, indent=1)


def stream(out, seed, k, e):
    """k NDJSON increments of e events each, in event-time order.

    Each increment covers one hour of event time. User u sits out every
    increment i with (i + u) % 3 == 0, so its session closes (the gap is
    30 minutes) and the watermark later evicts it.
    """
    r = _rng(seed, 21)
    n_users = max(30, e // 50)
    t0 = _us(dt.datetime(2024, 2, 1)) + int(r.integers(0, 86_400)) * 1_000_000
    hour = 3_600_000_000
    os.makedirs(f"{out}/increments", exist_ok=True)
    next_id = 0
    for i in range(k):
        active = np.array([u for u in range(n_users) if (i + u) % 3 != 0])
        users = active[r.integers(0, len(active), e)]
        ts = np.sort(t0 + i * hour + r.integers(0, hour, e))
        values = np.round(r.uniform(0.01, 100.0, e), 2)
        etypes = r.integers(0, 5, e)
        _ndjson(f"{out}/increments/part-{i:04d}.json", (
            f'{{"event_id":{next_id + j},"ts":"{t}","user_id":{u},'
            f'"event_type":"{EVENT_TYPES[et]}","value":{v!r}}}\n'
            for j, (t, u, et, v) in enumerate(zip(_ts_strs(ts), users.tolist(),
                                                  etypes.tolist(), values.tolist()))))
        next_id += e
