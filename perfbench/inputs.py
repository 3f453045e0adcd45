"""Seeded input generator for the benchmark workloads.

Uses only numpy, pyarrow and the standard library, so inputs exist before
any Spark session does. ``ensure_inputs`` writes one directory per
(workload, seed, sizes) under the cache root and marks it complete with a
``DONE`` file; a later call with the same key reuses it. Generation never
runs inside a timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# streaming_velocity -> score_stream. Every request drains the whole
# backlog into a fresh checkpoint, one file per trigger.
STREAM = {
    # headline_parquet's events. A trigger costs 3-4 s here almost
    # whatever its size (medians on 4 cores: 2.7 s over 120 triggers of
    # 833 rows, 3.7 s over 30 of 3.3k rows), so the 100 triggers a p90
    # needs (ten beyond it) take 5-6 minutes; 20 triggers keep a run
    # near two minutes
    "events_rows": 100_000,
    "users": 1_500,
    "user_zipf": 0.8,
    "files": 20,
    "max_files_per_trigger": 1,
}
# graph_text's own drain, small enough to share graph_text's run: two
# triggers, the first of which carries the query's start-up, so it
# covers the streaming layers but measures no per-trigger cost
SMALL_STREAM = {
    "events_rows": 12_000,
    "users": 50,
    "user_zipf": 0.8,
    "files": 2,
    "max_files_per_trigger": 1,
}
# Sizes and the input properties each workload varies. BENCHMARK.json
# summarises these next to each workload's reason.
SIZES: dict[str, dict] = {
    "fraud_pipeline": {
        "fraud_rows": 3_000,
        "fraud_rate": 0.09,
        # Broadcast nested-loop geolocate compares rows x intervals: ~110M
        # pairs here (~36k intervals are kept), 5x headline q2's 100k x
        # 201. Measured cold run_s on 4 cores: 38-39 s from 2k to 40k
        # intervals, 40-42 s at 60k, 48 s at 100k and 50-55 s at the
        # reference's ~139k, which the benchmark's total time limit
        # cannot pay on every run.
        "ip_intervals": 40_000,
        "hot_devices": 150,
        "hot_ips": 120,
        "hot_share": 0.12,
        "card_rows": 3_000,
        # 0.27%: the reference's 0.17% of 3k rows is 5, too few for
        # SMOTE's five neighbours once the test split takes its share
        "card_positives": 8,
    },
    "headline_parquet": {
        # row counts of the sf0.1 test tables
        "lineitem_rows": 600_000,
        "part_rows": 20_000,
        "events_rows": 100_000,
        "users": 1_500,
        "user_zipf": 0.8,
    },
    "graph_text": {
        "orders": 200,
        "parts": 250,
        "part_zipf": 1.1,
        "max_lines": 6,
        "docs": 300,
        "doc_words": 60,
        "near_dup_share": 0.3,
        "pair_offset": 100,
        "stream": SMALL_STREAM,
    },
    "stream_scoring": STREAM,
}

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_VOCAB = [
    "spark", "batch", "stream", "query", "table", "row", "column", "scan",
    "sort", "hash", "join", "window", "filter", "group", "agg", "value",
    "key", "part", "order", "line", "data", "merge", "vector", "index",
    "fast", "slow", "big", "small", "hot", "cold", "shuffle", "stage",
    "task", "plan", "cache", "spill", "fraud", "score", "model", "label",
]
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def input_dir(root: str, workload: str, seed: int) -> str:
    """Cache key: the workload's sizes and this generator's source."""
    h = hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode())
    with open(__file__, "rb") as fh:
        h.update(fh.read())
    tag = h.hexdigest()[:10]
    return os.path.join(root, f"{workload}-s{seed}-{tag}")


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Return the input directory for (workload, seed), generating it once."""
    d = input_dir(root, workload, seed)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    GENERATORS[workload](d, rng, SIZES[workload])
    with open(os.path.join(d, "DONE"), "w") as fh:
        fh.write(json.dumps(SIZES[workload], sort_keys=True))
    return d


def _zipf_choice(rng, n: int, s: float, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _fmt_ts(epoch_s: np.ndarray) -> pa.Array:
    return pc.strftime(
        pa.array(epoch_s.astype("datetime64[s]")), format="%Y-%m-%d %H:%M:%S"
    )


# ---------------------------------------------------------------- fraud CSVs


def _fraud_csvs(d: str, rng, z: dict) -> None:
    n = z["fraud_rows"]
    # exact class counts, so every seed asks SMOTE for the same synthesis
    label = np.zeros(n, dtype=np.int64)
    label[rng.choice(n, size=round(n * z["fraud_rate"]), replace=False)] = 1
    signup = 1_420_070_400 + rng.integers(0, 230 * 86_400, n)  # 2015
    # fraud often purchases within seconds of signing up
    gap = np.where(
        (label == 1) & (rng.random(n) < 0.5),
        1,
        rng.integers(60, 120 * 86_400, n),
    )
    purchase = signup + gap

    # hot shared devices / IPs: fraud rows draw from the hot pools more
    p_hot = np.where(label == 1, 0.6, z["hot_share"])
    hot_dev = rng.random(n) < p_hot
    hot_ip = rng.random(n) < p_hot
    dev_ids = np.where(
        hot_dev, rng.integers(0, z["hot_devices"], n), z["hot_devices"] + np.arange(n)
    )
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    dev_tab = np.array(
        ["".join(row) for row in letters[rng.integers(0, 26, (n + z["hot_devices"], 13))]]
    )
    ip_pool = rng.random(z["hot_ips"]) * 4_294_967_295.0
    ip = np.where(hot_ip, ip_pool[rng.integers(0, z["hot_ips"], n)], rng.random(n) * 4_294_967_295.0)

    fraud = pa.table(
        {
            "user_id": rng.permutation(400_000)[:n] + 1,
            "signup_time": _fmt_ts(signup),
            "purchase_time": _fmt_ts(purchase),
            "purchase_value": rng.integers(9, 155, n),
            "device_id": dev_tab[dev_ids],
            "source": np.array(["SEO", "Ads", "Direct"])[rng.integers(0, 3, n)],
            "browser": np.array(["Chrome", "Safari", "FireFox", "IE", "Opera"])[
                rng.integers(0, 5, n)
            ],
            "sex": np.array(["M", "F"])[rng.integers(0, 2, n)],
            "age": rng.integers(18, 77, n),
            "ip_address": ip,
            "class": label,
        }
    )
    pacsv.write_csv(fraud, os.path.join(d, "Fraud_Data.csv"))

    # disjoint intervals over the IPv4 space with gaps (unmapped → Unknown)
    k = z["ip_intervals"]
    cuts = np.sort(rng.choice(2**32 - 1, size=2 * k, replace=False)).reshape(k, 2)
    keep = rng.random(k) < 0.9  # ~10% of intervals missing → gaps
    lo, hi = cuts[keep, 0], cuts[keep, 1]
    ipdim = pa.table(
        {
            "lower_bound_ip_address": lo.astype(np.float64),
            "upper_bound_ip_address": hi.astype(np.int64),
            "country": np.array([f"Country_{i:03d}" for i in range(180)])[
                rng.integers(0, 180, len(lo))
            ],
        }
    )
    pacsv.write_csv(ipdim, os.path.join(d, "IpAddress_to_Country.csv"))

    m = z["card_rows"]
    pos = np.zeros(m, dtype=np.int64)
    pos[rng.choice(m, size=z["card_positives"], replace=False)] = 1
    cols = {"Time": np.sort(rng.integers(0, 172_800, m)).astype(np.float64)}
    for i in range(1, 29):
        cols[f"V{i}"] = np.round(rng.normal(pos * (i % 3), 1.0), 6)
    cols["Amount"] = np.round(rng.exponential(88.0, m), 2)
    cols["Class"] = pos
    pacsv.write_csv(pa.table(cols), os.path.join(d, "creditcard.csv"))


# ------------------------------------------------------------ parquet tables


def _events_table(rng, z: dict) -> pa.Table:
    n = z["events_rows"]
    ts = np.sort(_T0_US + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": _zipf_choice(rng, z["users"], z["user_zipf"], n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _headline_tables(d: str, rng, z: dict) -> None:
    n = z["lineitem_rows"]
    orders = np.sort(rng.integers(0, n // 4, n))
    first = np.r_[0, np.flatnonzero(np.diff(orders)) + 1]
    linenumber = np.arange(n) - np.repeat(first, np.diff(np.r_[first, n])) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(0, 2_500, n)
    ship_us = (788_918_400 + days * 86_400) * 1_000_000  # from 1995-01-01
    pq.write_table(
        pa.table(
            {
                "l_orderkey": orders.astype(np.int64),
                "l_partkey": rng.integers(0, z["part_rows"], n),
                "l_suppkey": rng.integers(0, 1_000, n),
                "l_linenumber": linenumber.astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
                "l_shipdate": pa.array(ship_us, type=pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    p = z["part_rows"]
    words = np.array(["large", "hot", "blue", "small", "red", "ring", "bolt", "nut"])
    pq.write_table(
        pa.table(
            {
                "p_partkey": np.arange(p, dtype=np.int64),
                "p_name": pc.binary_join_element_wise(
                    words[rng.integers(0, 4, p)], words[rng.integers(4, 8, p)], " "
                ),
                "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                    rng.integers(0, 25, p)
                ],
                "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"])[
                    rng.integers(0, 6, p)
                ],
                "p_size": rng.integers(1, 51, p).astype(np.int32),
                "p_retailprice": np.round(900 + np.arange(p) / 10.0, 2),
            }
        ),
        os.path.join(d, "part.parquet"),
    )
    pq.write_table(_events_table(rng, z), os.path.join(d, "events.parquet"))


def _stream_files(d: str, rng, z: dict) -> None:
    """Event-time-ordered parquet files; file i holds the i-th time slice.
    Modification times increase with i, so the file source reads them in
    event-time order and no row ever falls behind the watermark."""
    ev = _events_table(rng, z)
    # a zoned timestamp reads as Spark TIMESTAMP, which the stream's
    # watermark and the batch window both take
    ev = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC")))
    src = os.path.join(d, "stream")
    os.makedirs(src)
    bounds = np.linspace(0, ev.num_rows, z["files"] + 1).astype(int)
    t0 = 1_700_000_000
    for i in range(z["files"]):
        p = os.path.join(src, f"part-{i:04d}.parquet")
        pq.write_table(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (t0 + i, t0 + i))


# ------------------------------------------------------- graph + text corpus


def _graph_text(d: str, rng, z: dict) -> None:
    # The graph's shape comes from a fixed generator and the seed only
    # relabels orders and parts: k-core takes 4 to 11 rounds across
    # random shapes, which would swamp the run-to-run spread. This shape
    # takes the typical 7.
    shape = np.random.default_rng(0)
    lines = shape.integers(1, z["max_lines"] + 1, z["orders"])
    order = np.repeat(np.arange(z["orders"], dtype=np.int64), lines)
    part = _zipf_choice(shape, z["parts"], z["part_zipf"], len(order))
    pq.write_table(
        pa.table({
            "order_id": rng.permutation(z["orders"])[order].astype(np.int64),
            "part_id": rng.permutation(z["parts"])[part].astype(np.int64),
        }),
        os.path.join(d, "order_parts.parquet"),
    )

    n, w = z["docs"], z["doc_words"]
    vocab = np.array(_VOCAB)
    toks = rng.integers(0, len(vocab), (n, w))
    off = z["pair_offset"]
    # a share of docs i+off are near-duplicates of doc i: ~10% of words edited
    dup = np.flatnonzero(rng.random(n - off) < z["near_dup_share"])
    edits = rng.random((len(dup), w)) < 0.1
    toks[dup + off] = np.where(edits, rng.integers(0, len(vocab), (len(dup), w)), toks[dup])
    lens = rng.integers(w // 3, w + 1, n)
    texts = [" ".join(vocab[toks[i, : lens[i]]]) for i in range(n)]
    pq.write_table(
        pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts}),
        os.path.join(d, "documents.parquet"),
    )
    _stream_files(d, rng, z["stream"])


GENERATORS = {
    "fraud_pipeline": _fraud_csvs,
    "headline_parquet": _headline_tables,
    "graph_text": _graph_text,
    "stream_scoring": _stream_files,
}
