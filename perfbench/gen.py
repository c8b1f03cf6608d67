"""Seeded input generator for the medallion benchmark.

Kept apart from the system under test: it uses numpy and pyarrow only, and
the program under test sees nothing but the parquet files it writes.

* ``tables(out, sf, seed)`` writes the ten fixture-shaped tables
  (``region`` ... ``embeddings``) that ``graft.queries`` reads.
* ``taxi_drops(out, lineitem, seed, ...)`` derives monthly taxi-trip drops
  from ``lineitem`` (one drop per ship month), in two footer-schema
  vintages, with a seed-chosen share of rows that each ``Promote.clean``
  rule rejects, and records every drop's expected valid-row count.

The same seed always gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
ADJ = ("large hot blue old cold red small green").split()
NOUN = ("ring bolt plate gear widget rod anvil nut").split()


def _days(lo, hi, n, rng):
    """n uniform calendar days in [lo, hi] as datetime64[ms]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d.astype("timedelta64[D]")).astype("datetime64[ms]")


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 22)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(out, sf, seed):
    """Write the ten query tables at scale factor ``sf`` under ``out``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ev = int(200_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)}),
        f"{out}/supplier.parquet")
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1), f64)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng), pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_li, rng), pa.timestamp("ms"))}),
        f"{out}/lineitem.parquet")
    # events: ns-stored timestamps (the fixture's INT64 TIMESTAMP(NANOS)),
    # microsecond-valued, sorted by time like the fixture's event_id order.
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    start = np.datetime64("2024-01-01T00:00:00", "ns")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(start + (ts_us * 1000).astype("timedelta64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    # documents: word soup over a 31-word vocabulary; every 20th document
    # is a near-duplicate of an earlier one with one word appended.
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")
    # embeddings: 10 labelled clusters of unit vectors in 64 dimensions.
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)}),
        f"{out}/embeddings.parquet")


def lineitem(sf, seed):
    """Just the lineitem columns the taxi drops derive from."""
    rng = np.random.default_rng([seed, 2])
    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": rng.integers(0, int(1_500_000 * sf), n),
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng),
    }


def months(li):
    """Sorted distinct ``yyyy-MM`` ship months of a lineitem dict."""
    m = li["l_shipdate"].astype("datetime64[M]")
    return sorted({str(x) for x in np.unique(m)})


def _taxi(li, idx, legacy, rng, reject_share):
    """Taxi-trip rows for lineitem rows ``idx``; returns (table, n_valid)."""
    g = {k: v[idx] for k, v in li.items()}
    n = len(idx)
    pickup = g["l_shipdate"].astype("datetime64[us]") + \
        (g["l_orderkey"] % 86400).astype("timedelta64[s]")
    dropoff = pickup + (60 + g["l_partkey"] % 3600).astype("timedelta64[s]")
    fare = np.round(g["l_extendedprice"] / 1000, 2)
    pay = (1 + g["l_orderkey"] % 4).astype(np.float64)
    # Each rejected row breaks exactly one Promote.clean rule: null
    # payment_type, negative fare, or a non-positive trip duration.
    bad = rng.random(n) < reject_share
    rule = rng.integers(0, 3, n)
    pay_mask = bad & (rule == 0)
    fare = np.where(bad & (rule == 1), -fare - 1.0, fare)
    dropoff = np.where(bad & (rule == 2), pickup, dropoff)
    tip = np.round(fare * g["l_discount"], 2)
    tolls = np.round(g["l_tax"] * 10, 2)
    total = np.round(fare + tip + tolls + 0.5 + 0.3 + 2.5, 2)
    pu = (1 + g["l_partkey"] % 263).astype(np.int32)
    ts = pa.timestamp("us", tz="UTC")
    cols = {
        "VendorID": pa.array((1 + g["l_suppkey"] % 2).astype(np.int32)),
        "tpep_pickup_datetime": pa.array(pickup, ts),
        "tpep_dropoff_datetime": pa.array(dropoff, ts),
        "passenger_count": pa.array(
            (1 + g["l_quantity"] % 6).astype(np.float64 if legacy else np.int64)),
        "trip_distance": pa.array(np.round(g["l_quantity"] * 0.37, 2)),
        "RatecodeID": pa.array((1 + g["l_linenumber"] % 5).astype(np.int64)),
        "store_and_fwd_flag": pa.array(np.where(g["l_linenumber"] == 7, "Y", "N")),
        "PULocationID": pa.array(pu),
        "DOLocationID": pa.array((1 + g["l_suppkey"] % 263).astype(np.int32)),
        "payment_type": pa.array(pay.astype(np.int64), mask=pay_mask),
        "fare_amount": pa.array(fare),
        "extra": pa.array(np.where(g["l_linenumber"] > 4, 1.0, 0.0)),
        "mta_tax": pa.array(np.full(n, 0.5)),
        "tip_amount": pa.array(tip),
        "tolls_amount": pa.array(tolls),
        "improvement_surcharge": pa.array(np.full(n, 0.3)),
        "total_amount": pa.array(total),
        "congestion_surcharge": pa.array(np.full(n, 2.5)),
    }
    if not legacy:
        cols["airport_fee"] = pa.array(np.where(pu % 10 == 0, 1.25, 0.0))
    return pa.table(cols), int(n - bad.sum())


def taxi_drops(out, li, seed, n_months, legacy_months=0, split=1,
               tag="drop", start=0):
    """Write one taxi drop per ship month for ``n_months`` months from the
    ``start``-th.

    The first ``legacy_months`` drops use the older footer schema
    (``passenger_count`` DOUBLE, no ``airport_fee``). ``split`` > 1 cuts
    each month into that many drops (the streaming workload lands smaller
    files at a higher rate). Returns the manifest: one entry per drop with
    its month, path, rows and expected valid rows.
    """
    rng = np.random.default_rng([seed, 3])
    reject_share = float(rng.uniform(0.02, 0.06))
    os.makedirs(out, exist_ok=True)
    m = li["l_shipdate"].astype("datetime64[M]").astype(str)
    order = np.argsort(m, kind="stable")
    ms = months(li)[start:start + n_months]
    lo = np.searchsorted(m[order], ms, "left")
    hi = np.searchsorted(m[order], ms, "right")
    manifest = []
    for i, ym in enumerate(ms):
        idx = order[lo[i]:hi[i]]
        for j, part in enumerate(np.array_split(idx, split)):
            t, valid = _taxi(li, part, i < legacy_months, rng, reject_share)
            path = f"{out}/{tag}_{ym}_{j:02d}.parquet"
            _write(t, path)
            manifest.append({"month": ym, "path": os.path.abspath(path),
                             "rows": len(part), "valid": valid})
    return manifest

