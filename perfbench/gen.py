"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical inputs. The program under test only ever sees the
files written here.

- taxi drops: TLC yellow-taxi CSVs (19 columns, a 20th in the third drop)
  with a fixed share of invalid rows, plus the exact values the ELT
  chain must produce from them;
- warehouse: the TPC-H-ish star schema plus `events`, laid out like the
  gate tables (one parquet file, one row group per table);
- corpus: a `documents` table with planted exact and near duplicates.

The dashboard request sequence is drawn by the harness itself
(`DashMix.sequence`), from the query pool the program exposes.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- taxi

TLC_COLUMNS = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge", "Airport_fee",
]
# the third drop: the 2025 fee column appears, and one header arrives
# with different case (must match the existing column, not add one)
RECASED = {"Airport_fee": "airport_fee"}
ADDED = "cbd_congestion_fee"
INVALID_SHARE = 0.03  # per kind: reversed times, zero distance, refund


def _money(c: np.ndarray) -> list:
    """Integer cents -> TLC decimal text ('-1.05', '12.00'); two-decimal
    formatting of cents / 100 reproduces the cents exactly."""
    return [f"{x:.2f}" for x in (c / 100.0).tolist()]


def _blank(col: list, missing: np.ndarray) -> list:
    return ["" if m else v for v, m in zip(col, missing.tolist())]


def _ts(t: np.ndarray) -> list:
    return [x.replace("T", " ") for x in np.datetime_as_string(t, unit="s").tolist()]


def _ints(a: np.ndarray) -> list:
    return a.astype(str).tolist()


def _taxi_drop(rng: np.random.Generator, n: int, third: bool):
    """One drop as (header, text columns) plus the validity mask and the
    numeric columns the expected values are computed from."""
    jan = np.datetime64("2025-01-01T00:00:00", "s")
    pickup = jan + rng.integers(0, 31 * 86400, n).astype("timedelta64[s]")
    dur_s = np.clip(rng.exponential(900.0, n), 30, 3 * 3600).astype(np.int64)
    dropoff = pickup + dur_s.astype("timedelta64[s]")
    # TLC rows with an unknown passenger count also lack the rate code,
    # the store flag and the surcharges
    unknown = rng.random(n) < 0.06
    dist_c = np.maximum(1, rng.exponential(300.0, n).astype(np.int64))  # 0.01 mi
    payment = np.where(unknown, 0, rng.choice([1, 1, 1, 2, 2, 3, 4], n))
    fare_c = 300 + dist_c * 250 // 100 + dur_s * 50 // 60
    extra_c = rng.choice([0, 100, 250], n)
    mta_c = np.full(n, 50)
    tip_c = np.where(payment == 1, fare_c * rng.integers(10, 31, n) // 100, 0)
    tolls_c = np.where(rng.random(n) < 0.07, 694, 0)
    impr_c = np.full(n, 100)
    cong_c = np.where(unknown, 0, rng.choice([0, 250, 250, 250], n))
    airport_c = np.where(rng.random(n) < 0.08, 175, 0)
    cbd_c = rng.choice([0, 75], n)

    # fixed shares of rows the validity filter must drop
    kind = rng.permutation(n)
    k = int(n * INVALID_SHARE)
    rev, zero, refund = kind[:k], kind[k:2 * k], kind[2 * k:3 * k]
    pickup[rev], dropoff[rev] = dropoff[rev], pickup[rev].copy()
    dist_c[zero] = 0
    for a in (fare_c, extra_c, mta_c, tip_c, tolls_c, impr_c):
        a[refund] = -a[refund]
    total_c = (fare_c + extra_c + mta_c + tip_c + tolls_c + impr_c +
               cong_c + airport_c + (cbd_c if third else 0))

    cols = [
        _ints(rng.choice([1, 2, 2, 7], n)),
        _ts(pickup), _ts(dropoff),
        _blank(_ints(rng.integers(1, 7, n)), unknown),
        _money(dist_c),
        _blank(_ints(rng.choice([1] * 9 + [2], n)), unknown),
        _blank(np.where(rng.random(n) < 0.005, "Y", "N").tolist(), unknown),
        _ints(rng.integers(1, 266, n)), _ints(rng.integers(1, 266, n)),
        _ints(payment),
        _money(fare_c), _money(extra_c), _money(mta_c), _money(tip_c),
        _money(tolls_c), _money(impr_c), _money(total_c),
        _blank(_money(cong_c), unknown), _blank(_money(airport_c), unknown),
    ]
    header = list(TLC_COLUMNS)
    if third:
        header = [RECASED.get(h, h) for h in header] + [ADDED]
        cols.append(_money(cbd_c))
    valid = (dropoff > pickup) & (dist_c > 0) & (total_c >= 0)
    return header, cols, valid, dist_c, fare_c, tip_c, total_c


def taxi_drops(seed: int, rows_per_drop: int, out_dir: str) -> dict:
    """Write drop_1.csv .. drop_3.csv and return the values the ELT
    chain must reproduce: raw rows, valid rows, and the summary row.

    Amounts are whole cents, so `cents / 100.0` is the same IEEE double
    a CSV reader parses from the written decimal text."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    paths, dist, total, tip_pct = [], [], [], []
    for i in range(3):
        header, cols, valid, dist_c, fare_c, tip_c, total_c = \
            _taxi_drop(rng, rows_per_drop, third=(i == 2))
        p = os.path.join(out_dir, f"drop_{i + 1}.csv")
        with open(p, "w") as f:
            f.write(",".join(header) + "\n")
            f.write("\n".join(map(",".join, zip(*cols))))
            f.write("\n")
        paths.append(p)
        fare, tip = fare_c[valid] / 100.0, tip_c[valid] / 100.0
        with np.errstate(divide="ignore", invalid="ignore"):
            tip_pct.append(np.where(fare > 0,
                                    np.minimum(tip / fare * 100, 999.99), 0.0))
        dist.append(dist_c[valid] / 100.0)
        total.append(total_c[valid] / 100.0)
    dist, total, tip_pct = (np.concatenate(x) for x in (dist, total, tip_pct))
    n = len(dist)
    return {
        "paths": paths,
        "raw_rows": 3 * rows_per_drop,
        "valid_rows": n,
        "summary": {
            "total_trips": n,
            "avg_distance": math.fsum(dist) / n,
            "avg_total": math.fsum(total) / n,
            "avg_tip_pct": math.fsum(tip_pct) / n,
        },
    }

# ----------------------------------------------------------- warehouse


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path, row_group_size=1 << 30)


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def warehouse(seed: int, sf: float, out_dir: str) -> None:
    """TPC-H-ish tables plus `events`, sized like the gate tables at `sf`
    (sf0.01: 60k lineitem, 15k orders, 10k events)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, t: _write(t, os.path.join(out_dir, f"{name}.parquet"))
    i32 = lambda a: pa.array(a, pa.int32())
    w("region", {"r_regionkey": i32(np.arange(5)),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": i32(np.arange(25)),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": i32(np.arange(25) % 5)})
    nc, ns, npart = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    no, nl, ne = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    w("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": _cents(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    w("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": _cents(rng, ns, -999.99, 9999.99)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    w("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": (9000 + np.arange(npart) % 1000) / 10.0})
    w("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _cents(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    w("lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    w("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, ne)).astype(
            "timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.maximum(1, rng.exponential(5000.0, ne).astype(np.int64)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    # the corpus tables sit beside the warehouse, as in the gate data
    # (some SQL-surface queries register every table as a view)
    corpus(seed, int(50000 * sf), out_dir)
    nv, dim = int(50000 * sf), 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=1.5, size=(nv, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    w("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(label)})

# -------------------------------------------------------------- corpus

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def corpus(seed: int, n_docs: int, out_dir: str) -> None:
    """`documents` like the gate corpus (10-100 words over a 30-word
    vocabulary, 5 languages, 20 sources) with planted duplicates in the
    manner of the sf1 scale-up: 3% exact clones of an earlier document
    and 5% near duplicates (an earlier text plus one marker word)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(VOCAB)
    texts = []
    clone = rng.random(n_docs)
    for i in range(n_docs):
        if i > 10 and clone[i] < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and clone[i] < 0.08:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 101)))]))
    _write({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, os.path.join(out_dir, "documents.parquet"))
