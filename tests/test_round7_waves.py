"""Property tests for the round-7 graph-similarity / fusion / drift
waves: each registered query's kernel is pitted against an independent
brute-force implementation on sf0.001 (the same strategy as
test_round6_waves.py).
"""

from __future__ import annotations

import itertools
import math
from collections import Counter

import numpy as np

from pyspark.sql import functions as F

from fraud_detection_project_spark.catalog import load_table
from fraud_detection_project_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _copart_graph(spark):
    """Brute-force weight>=2 co-purchase edge set as a dict of sets."""
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order = {}
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order.setdefault(o, set()).add(p)
    w = Counter()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            w[(a, b)] += 1
    adj = {}
    for (a, b), c in w.items():
        if c >= 2:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    return adj


def test_neighborhood_jaccard_matches_bruteforce(spark):
    adj = _copart_graph(spark)
    best = {}
    for m, nbrs in adj.items():
        for a, b in itertools.combinations(sorted(nbrs), 2):
            best[(a, b)] = best.get((a, b), 0) + 1
    rows = []
    for (a, b), common in best.items():
        jac = common / (len(adj[a]) + len(adj[b]) - common)
        rows.append((round(jac, 6), a, b, common))
    rows.sort(key=lambda r: (-r[0], r[1], r[2]))
    expected = rows[:20]
    got = QUERIES["neighborhood_jaccard_coparts"](spark, SF).collect()
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert (round(g["jaccard"], 6), g["u"], g["v"], g["common"]) == e


def test_label_propagation_matches_bruteforce(spark):
    adj = _copart_graph(spark)
    labels = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(labels[m] for m in nbrs)
            # argmax count, tie -> smallest label
            nxt[n] = min(
                (lab for lab in cnt if cnt[lab] == max(cnt.values()))
            )
        labels = nxt
    sizes = Counter(Counter(labels.values()).values())
    expected = sorted(sizes.items())
    got = [
        (r["community_size"], r["n_communities"])
        for r in QUERIES["label_propagation_communities"](spark, SF).collect()
    ]
    assert got == expected


def test_rrf_fusion_scores_and_coverage(spark):
    out = QUERIES["rrf_fusion_search"](spark, SF).collect()
    assert out, "fusion list must be non-empty"
    seen = set()
    for r in out:
        assert r["doc_id"] not in seen
        seen.add(r["doc_id"])
        expect = 0.0
        if r["bm25_rank"] is not None:
            assert 1 <= r["bm25_rank"] <= 20
            expect += 1.0 / (60 + r["bm25_rank"])
        if r["rich_rank"] is not None:
            assert 1 <= r["rich_rank"] <= 20
            expect += 1.0 / (60 + r["rich_rank"])
        assert r["bm25_rank"] is not None or r["rich_rank"] is not None
        assert abs(r["rrf"] - expect) < 1e-6
    # each leg contributes exactly its top-20 (ranks are a permutation)
    for col in ("bm25_rank", "rich_rank"):
        ranks = sorted(r[col] for r in out if r[col] is not None)
        assert ranks == list(range(1, 21))


def test_gopher_repetition_matches_bruteforce(spark):
    import re

    pdf = load_table(spark, SF, "documents").toPandas()
    per_source = {}
    for _, row in pdf.iterrows():
        toks = re.sub(r"[^a-z0-9]+", " ", row["text"].lower()).strip().split()
        if not toks:
            continue
        uni = Counter(toks)
        top1 = max(uni.values()) / len(toks)
        dup = sum(c for c in uni.values() if c >= 2) / len(toks)
        if len(toks) >= 2:
            big = Counter(zip(toks, toks[1:]))
            topb = 2.0 * max(big.values()) / len(toks)
        else:
            topb = 0.0
        agg = per_source.setdefault(row["source"], [0, 0.0, 0.0, 0.0, 0])
        agg[0] += 1
        agg[1] += top1
        agg[2] += topb
        agg[3] += dup
        agg[4] += 1 if (top1 > 0.12 or topb > 0.18) else 0
    got = {
        r["source"]: r
        for r in QUERIES["gopher_repetition_audit"](spark, SF).collect()
    }
    assert set(got) == set(per_source)
    for src, (n, s1, sb, sd, fl) in per_source.items():
        r = got[src]
        assert r["n_docs"] == n
        assert abs(r["avg_top_unigram_frac"] - s1 / n) < 1e-5
        assert abs(r["avg_top_bigram_frac"] - sb / n) < 1e-5
        assert abs(r["avg_dup_word_frac"] - sd / n) < 1e-5
        assert r["n_flagged"] == fl


def test_page_hinkley_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .orderBy("d")
        .toPandas()
    )
    y = daily["rev"].to_numpy(dtype="float64")
    cm = np.cumsum(y) / np.arange(1, len(y) + 1)
    m = np.cumsum(y - cm)
    ph = m - np.minimum.accumulate(m)
    lam = 3.0 * float(np.std(y))
    out = QUERIES["page_hinkley_daily"](spark, SF).orderBy("day").collect()
    assert len(out) == len(y)
    for i, r in enumerate(out):
        assert abs(r["m_k"] - round(m[i] / 1000.0, 4)) < 1e-6
        assert abs(r["ph_k"] - round(ph[i] / 1000.0, 4)) < 1e-6
        assert r["alarm"] == bool(ph[i] > lam)


def test_kappa_mcc_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", "event_type")
        .toPandas()
    )
    med = float(np.quantile(pdf["value"].to_numpy(), 0.5))
    a = (pdf["value"] > med).to_numpy()
    b = pdf["event_type"].isin(["purchase", "click"]).to_numpy()
    n11 = int((a & b).sum())
    n10 = int((a & ~b).sum())
    n01 = int((~a & b).sum())
    n00 = int((~a & ~b).sum())
    n = len(pdf)
    po = (n11 + n00) / n
    pe = ((n11 + n10) / n) * ((n11 + n01) / n) + ((n01 + n00) / n) * (
        (n10 + n00) / n
    )
    kappa = (po - pe) / (1 - pe)
    mcc = (n11 * n00 - n10 * n01) / math.sqrt(
        (n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00)
    )
    r = QUERIES["kappa_mcc_agreement"](spark, SF).collect()[0]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (n11, n10, n01, n00)
    assert abs(r["kappa"] - kappa) < 1e-5
    assert abs(r["mcc"] - mcc) < 1e-5


def test_smape_mase_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .orderBy("d")
        .toPandas()
    )
    y = daily["rev"].to_numpy(dtype="float64")
    e7 = y[7:] - y[:-7]
    mape = float(np.mean(np.abs(e7) / y[7:]))
    smape = float(np.mean(2 * np.abs(e7) / (np.abs(y[7:]) + np.abs(y[:-7]))))
    mase = float(np.mean(np.abs(e7)) / np.mean(np.abs(np.diff(y))))
    r = QUERIES["smape_mase_daily"](spark, SF).collect()[0]
    assert r["n_days"] == len(y)
    assert abs(r["mape"] - mape) < 1e-5
    assert abs(r["smape"] - smape) < 1e-5
    assert abs(r["mase"] - mase) < 1e-5


def test_mad_outlier_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    v = pdf["value"].to_numpy(dtype="float64")
    med = float(np.quantile(v, 0.5))
    mad = float(np.quantile(np.abs(v - med), 0.5))
    rz = 0.6745 * (v - med) / mad
    got = {
        r["event_type"]: r
        for r in QUERIES["mad_outlier_screen"](spark, SF).collect()
    }
    for et in pdf["event_type"].unique():
        mask = (pdf["event_type"] == et).to_numpy()
        r = got[et]
        assert r["n"] == int(mask.sum())
        assert r["n_outliers"] == int((np.abs(rz[mask]) > 3.5).sum())
        assert abs(r["max_abs_rz"] - np.abs(rz[mask]).max()) < 1e-5
        assert abs(r["avg_abs_rz"] - np.abs(rz[mask]).mean()) < 1e-5


def test_theil_sen_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .orderBy("d")
        .toPandas()
    )
    x = (
        daily["d"].map(lambda d: d.toordinal() - 719163).to_numpy(dtype="float64")
    )  # 719163 = ordinal of 1970-01-01
    y = daily["rev"].to_numpy(dtype="float64")
    slopes = [
        (y[j] - y[i]) / (x[j] - x[i])
        for i in range(len(x))
        for j in range(i + 1, len(x))
    ]
    slope = float(np.quantile(slopes, 0.5))
    icept = float(np.quantile(y - slope * x, 0.5))
    ols = float(np.cov(x, y, bias=True)[0, 1] / np.var(x))
    r = QUERIES["theil_sen_revenue_trend"](spark, SF).collect()[0]
    assert r["n_days"] == len(x)
    assert abs(r["ts_slope"] - slope) < 1e-5
    assert abs(r["ts_intercept"] - icept) < 0.02
    assert abs(r["ols_slope"] - ols) < 1e-5


def test_kruskal_wallis_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .orderBy("d")
        .toPandas()
    )
    order = sorted(range(len(daily)), key=lambda i: (daily["rev"][i], daily["d"][i]))
    rnk = {}
    for pos, i in enumerate(order, start=1):
        rnk[i] = pos
    groups = {}
    for i in range(len(daily)):
        wd = daily["d"][i].weekday()
        groups.setdefault(wd, []).append(rnk[i])
    n = len(daily)
    h = 12.0 / (n * (n + 1)) * sum(
        len(rs) * (np.mean(rs) - (n + 1) / 2.0) ** 2 for rs in groups.values()
    )
    got = {r["weekday"]: r for r in QUERIES["kruskal_wallis_weekday"](spark, SF).collect()}
    assert set(got) == set(groups)
    for wd, rs in groups.items():
        assert got[wd]["n_days"] == len(rs)
        assert abs(got[wd]["avg_rank"] - np.mean(rs)) < 1e-3
        assert abs(got[wd]["h_stat"] - h) < 1e-4


def test_scd2_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .selectExpr("user_id", "event_id", "ts_ns div 1000 as ts_us", "value")
        .toPandas()
    )
    expected = []
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["ts_us", "event_id"])
        segs = []
        prev = None
        for _, row in g.iterrows():
            tier = min(int(row["value"] // 100), 9)
            if prev is None or tier != prev:
                segs.append([uid, tier, int(row["ts_us"]), None])
                prev = tier
        for i in range(len(segs) - 1):
            segs[i][3] = segs[i + 1][2]
        expected.extend(tuple(s) for s in segs)
    got = [
        (r["user_id"], r["tier"], r["valid_from_us"], r["valid_to_us"])
        for r in QUERIES["scd2_user_tiers"](spark, SF).collect()
    ]
    assert len(got) == len(expected)
    assert set(got) == set(expected)


def test_bom_rollup_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "part").select(
        "p_partkey", "p_retailprice"
    ).toPandas()
    roots = {}
    for _, row in pdf.iterrows():
        p = int(row["p_partkey"])
        while p >= 10:
            p //= 10
        n, c = roots.get(p, (0, 0.0))
        roots[p] = (n + 1, c + row["p_retailprice"])
    got = {r["root"]: r for r in QUERIES["bom_cost_rollup"](spark, SF).collect()}
    assert set(got) == set(roots)
    for root, (n, c) in roots.items():
        assert got[root]["n_parts"] == n
        assert abs(got[root]["total_cost"] - c) < 0.02


def test_activity_islands_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .toPandas()
    )
    from collections import Counter, defaultdict

    hist = Counter()
    users = defaultdict(set)
    for uid, g in pdf.groupby("user_id"):
        days = sorted(d.toordinal() for d in g["d"])
        run = 1
        for a, b in zip(days, days[1:]):
            if b == a + 1:
                run += 1
            else:
                hist[run] += 1
                users[run].add(uid)
                run = 1
        hist[run] += 1
        users[run].add(uid)
    got = {
        r["island_length"]: r
        for r in QUERIES["activity_islands_histogram"](spark, SF).collect()
    }
    assert set(got) == set(hist)
    for length, n in hist.items():
        assert got[length]["n_islands"] == n
        assert got[length]["n_users"] == len(users[length])


def test_logistic_gd_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", F.hour("ts").alias("h"), "event_type")
        .toPandas()
    )
    x1 = ((pdf["value"] - 50) / 25.0).to_numpy(dtype="float64")
    x2 = ((pdf["h"] - 12) / 6.0).to_numpy(dtype="float64")
    y = (pdf["event_type"] == "purchase").to_numpy(dtype="float64")
    w = np.zeros(3)
    for _ in range(5):
        z = w[0] + w[1] * x1 + w[2] * x2
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        g = np.array([err.mean(), (err * x1).mean(), (err * x2).mean()])
        w = w - 0.5 * g
    z = w[0] + w[1] * x1 + w[2] * x2
    p = 1.0 / (1.0 + np.exp(-z))
    logloss = float(np.mean(-(y * np.log(p) + (1 - y) * np.log(1 - p))))
    acc = float(np.mean((p > 0.5) == (y == 1.0)))
    r = QUERIES["logistic_gd_training"](spark, SF).collect()[0]
    assert abs(r["w_bias"] - w[0]) < 1e-5
    assert abs(r["w_value"] - w[1]) < 1e-5
    assert abs(r["w_hour"] - w[2]) < 1e-5
    assert abs(r["logloss"] - logloss) < 1e-5
    assert abs(r["accuracy"] - acc) < 1e-6
    # training must actually move the weights and beat chance
    assert abs(w[1]) > 1e-3 and r["accuracy"] > 0.5


def test_periodogram_matches_numpy_fft(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .orderBy("d")
        .toPandas()
    )
    y = daily["rev"].to_numpy(dtype="float64")
    y = y - y.mean()
    spec = np.fft.rfft(y)
    power = np.abs(spec) ** 2 / 1e12
    n = len(y)
    rows = sorted(
        ((round(power[k], 4), k) for k in range(1, min(121, len(power)))),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = QUERIES["periodogram_daily_topk"](spark, SF).collect()
    assert [(r["power_t"], r["k"]) for r in got] == [
        (p, k) for p, k in rows
    ]
    for r in got:
        assert abs(r["period_days"] - round(n / r["k"], 2)) < 1e-9


def test_ece_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", "event_type")
        .toPandas()
    )
    s = 1.0 / (1.0 + np.exp(-((pdf["value"] - 50) / 25.0).to_numpy()))
    y = (pdf["event_type"] == "purchase").to_numpy(dtype="float64")
    bins = np.minimum((s * 10).astype(int), 9)
    got = {r["bin"]: r for r in QUERIES["ece_calibration_bins"](spark, SF).collect()}
    ece = 0.0
    for b in np.unique(bins):
        m = bins == b
        gap = abs(y[m].mean() - s[m].mean())
        ece += m.sum() / len(s) * gap
        r = got[int(b)]
        assert r["n"] == int(m.sum())
        assert abs(r["avg_confidence"] - s[m].mean()) < 1e-5
        assert abs(r["avg_outcome"] - y[m].mean()) < 1e-5
        assert abs(r["gap"] - gap) < 1e-5
    assert set(got) == {int(b) for b in np.unique(bins)}
    for r in got.values():
        assert abs(r["ece"] - ece) < 1e-5


def test_t_closeness_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.hour("ts").alias("h"), "value")
        .toPandas()
    )
    lo, hi = pdf["value"].min(), pdf["value"].max()
    width = (hi - lo) / 10.0
    pdf["bin"] = np.minimum(((pdf["value"] - lo) // width).astype(int), 9)
    pdf["ampm"] = np.where(pdf["h"] < 12, "am", "pm")
    q = np.zeros(10)
    for b, c in pdf["bin"].value_counts().items():
        q[int(b)] = c / len(pdf)
    got = {
        (r["event_type"], r["ampm"]): r
        for r in QUERIES["t_closeness_audit"](spark, SF).collect()
    }
    for (et, ap), g in pdf.groupby(["event_type", "ampm"]):
        p = np.zeros(10)
        for b, c in g["bin"].value_counts().items():
            p[int(b)] = c / len(g)
        t = float(np.sum(np.abs(np.cumsum(p - q))) / 9.0)
        r = got[(et, ap)]
        assert r["n"] == len(g)
        assert abs(r["t_value"] - t) < 1e-5
        assert r["violates"] == (t > 0.2)
    assert set(got) == set(map(tuple, pdf[["event_type", "ampm"]].drop_duplicates().values))


def test_did_estimator_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"), "value")
        .toPandas()
    )
    treat = (pdf["user_id"] * 1000003 + 7) % 999983 * 40503 % 999983 % 2
    cut = np.quantile(pdf["ts_us"].to_numpy(), 0.5, method="linear")
    post = (pdf["ts_us"] >= cut).astype(int)
    cells = {}
    for t in (0, 1):
        for p in (0, 1):
            v = pdf["value"][(treat == t) & (post == p)].to_numpy()
            cells[(t, p)] = (len(v), v.mean(), v.var(ddof=1))
    did = (cells[(1, 1)][1] - cells[(1, 0)][1]) - (
        cells[(0, 1)][1] - cells[(0, 0)][1]
    )
    se = math.sqrt(sum(s2 / n for n, _, s2 in cells.values()))
    r = QUERIES["did_estimator"](spark, SF).collect()[0]
    assert r["n_total"] == len(pdf)
    assert abs(r["mean_treat_post"] - cells[(1, 1)][1]) < 1e-5
    assert abs(r["mean_ctrl_pre"] - cells[(0, 0)][1]) < 1e-5
    assert abs(r["did"] - did) < 1e-5
    assert abs(r["se"] - se) < 1e-5
    assert abs(r["t_stat"] - did / se) < 1e-4


def _phi_tail_as(z):
    """Abramowitz-Stegun 26.2.17 upper-tail Φ, the polynomial both the
    query and its oracle state verbatim."""
    az = abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    return (
        0.39894228040143267794
        * math.exp(-az * az / 2)
        * (
            0.319381530 * t
            - 0.356563782 * t**2
            + 1.781477937 * t**3
            - 1.821255978 * t**4
            + 1.330274429 * t**5
        )
    )


def test_bh_fdr_panel_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.weekday("ts").alias("weekday"), "value")
        .toPandas()
    )
    mu = pdf["value"].mean()
    sd = pdf["value"].std(ddof=0)
    rows = []
    for (et, wd), g in pdf.groupby(["event_type", "weekday"]):
        z = (g["value"].mean() - mu) / (sd / math.sqrt(len(g)))
        rows.append((et, int(wd), len(g), z, 2.0 * _phi_tail_as(z)))
    rows.sort(key=lambda r: (r[4], r[0], r[1]))
    m = len(rows)
    cut = max(
        (p for i, (_, _, _, _, p) in enumerate(rows) if p <= 0.05 * (i + 1) / m),
        default=None,
    )
    got = {
        (r["event_type"], r["weekday"]): r
        for r in QUERIES["bh_fdr_panel"](spark, SF).collect()
    }
    assert len(got) == m
    for i, (et, wd, n, z, p) in enumerate(rows):
        r = got[(et, wd)]
        assert r["n"] == n
        assert abs(r["z"] - z) < 1e-3
        assert abs(r["pval"] - p) < 1e-5
        assert abs(r["bh_threshold"] - 0.05 * (i + 1) / m) < 1e-5
        assert r["rejected"] == (cut is not None and p <= cut + 1e-12)


def test_hits_matches_numpy_power_iteration(spark):
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey").toPandas()
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey").toPandas()
    e = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")[
            ["o_custkey", "l_suppkey"]
        ]
        .drop_duplicates()
    )
    custs = sorted(e["o_custkey"].unique())
    supps = sorted(e["l_suppkey"].unique())
    ci = {c: i for i, c in enumerate(custs)}
    si = {s: i for i, s in enumerate(supps)}
    M = np.zeros((len(custs), len(supps)))
    for c, s in zip(e["o_custkey"], e["l_suppkey"]):
        M[ci[c], si[s]] = 1.0
    a = np.ones(len(supps))
    for _ in range(5):
        h = M @ a
        h /= np.linalg.norm(h)
        a = M.T @ h
        a /= np.linalg.norm(a)
    exp = sorted(
        zip(supps, np.round(a, 6)), key=lambda t: (-t[1], t[0])
    )[:10]
    got = [
        (r["s_suppkey"], r["authority"])
        for r in QUERIES["hits_supplier_authority"](spark, SF).collect()
    ]
    assert len(got) == 10
    for (gs, ga), (es, ea) in zip(got, exp):
        assert gs == es
        assert abs(ga - ea) < 1e-5


def test_kaplan_meier_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
    )
    wk = 604_800_000_000
    mx = pdf["ts_us"].max()
    g = pdf.groupby("user_id")["ts_us"].agg(["min", "max"])
    week = ((g["max"] - g["min"]) // wk).astype(int)
    died = (g["max"] < mx - wk).astype(int)
    weeks = sorted(week.unique())
    rows = {r["week"]: r for r in QUERIES["kaplan_meier_weekly"](spark, SF).collect()}
    assert set(rows) == set(weeks)
    surv = 1.0
    for w in weeks:
        d = int(died[week == w].sum())
        c = int((1 - died[week == w]).sum())
        n_risk = int((week >= w).sum())
        surv *= 1 - d / n_risk
        r = rows[w]
        assert r["n_risk"] == n_risk
        assert r["n_churned"] == d
        assert r["n_censored"] == c
        assert abs(r["survival"] - surv) < 1e-5


def test_benford_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select("o_totalprice")
        .toPandas()
    )
    v = pdf["o_totalprice"].to_numpy()
    digits = np.clip(
        np.floor(v / np.power(10.0, np.floor(np.log10(v)))).astype(int), 1, 9
    )
    n = len(v)
    got = {
        r["digit"]: r
        for r in QUERIES["benford_digit_audit"](spark, SF).collect()
        if r["src"] == "orders_totalprice"
    }
    assert set(got) == set(range(1, 10))
    chi2 = mad = 0.0
    for d in range(1, 10):
        obs_p = float((digits == d).sum()) / n
        exp_p = math.log10(1 + 1 / d)
        chi2 += (obs_p - exp_p) ** 2 / exp_p * n
        mad += abs(obs_p - exp_p) / 9
        r = got[d]
        assert r["n"] == (digits == d).sum()
        assert abs(r["obs_p"] - obs_p) < 1e-5
        assert abs(r["benford_p"] - exp_p) < 1e-5
    r = got[1]
    assert abs(r["chi2"] - chi2) < 1e-2
    assert abs(r["mad"] - mad) < 1e-5
    assert r["nonconforming"] == (mad > 0.015)


def test_psi_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.expr("ts_ns div 1000").alias("ts_us"), "value")
        .toPandas()
    )
    cut = np.quantile(pdf["ts_us"].to_numpy(), 0.5, method="linear")
    edges = np.quantile(
        pdf["value"].to_numpy(), [k / 10 for k in range(1, 10)], method="linear"
    )
    pdf["half"] = (pdf["ts_us"] >= cut).astype(int)
    pdf["bin"] = (pdf["value"].to_numpy()[:, None] > edges[None, :]).sum(axis=1)
    got = {
        r["event_type"]: r
        for r in QUERIES["psi_value_stability"](spark, SF).collect()
    }
    for et, g in pdf.groupby("event_type"):
        psi = 0.0
        n0 = int((g["half"] == 0).sum())
        n1 = int((g["half"] == 1).sum())
        for b in range(10):
            p = max(((g["half"] == 0) & (g["bin"] == b)).sum() / n0, 1e-6)
            q = max(((g["half"] == 1) & (g["bin"] == b)).sum() / n1, 1e-6)
            psi += (p - q) * math.log(p / q)
        r = got[et]
        assert r["n_first"] == n0 and r["n_second"] == n1
        assert abs(r["psi"] - psi) < 1e-5
        assert r["unstable"] == (psi > 0.2)


def test_ewma_chart_matches_recursion(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .toPandas()
        .sort_values("d")
        .reset_index(drop=True)
    )
    y = daily["rev"].to_numpy(dtype="float64")
    mu = y.sum() / len(y)
    sigma = math.sqrt(((y - mu) ** 2).sum() / len(y))
    out = QUERIES["ewma_control_chart"](spark, SF).collect()
    assert len(out) == len(y)
    z = mu
    for r in sorted(out, key=lambda r: r["t"]):
        t = r["t"]
        z = 0.8 * z + 0.2 * y[t - 1]
        half = 3 * sigma * math.sqrt(0.2 / 1.8 * (1 - 0.64**t))
        assert abs(r["ewma"] - z) < 1e-2
        assert abs(r["ucl"] - (mu + half)) < 1e-2
        assert abs(r["lcl"] - (mu - half)) < 1e-2
        assert r["breach"] == (z > mu + half or z < mu - half)
        assert r["d"] == daily["d"][t - 1].strftime("%Y-%m-%d")


def test_isotonic_pav_matches_sequential_stack(spark):
    rows = sorted(
        QUERIES["isotonic_pav_calibration"](spark, SF).collect(),
        key=lambda r: r["bin"],
    )
    ns = [r["n"] for r in rows]
    ys = [r["raw_rate"] for r in rows]
    # sequential PAV with per-bin expansion
    blocks = []  # [count_of_bins, total_n, total_ny]
    for n, y in zip(ns, ys):
        blocks.append([1, n, n * y])
        while (
            len(blocks) > 1
            and blocks[-2][2] / blocks[-2][1] >= blocks[-1][2] / blocks[-1][1]
        ):
            c, n2, s2 = blocks.pop()
            blocks[-1][0] += c
            blocks[-1][1] += n2
            blocks[-1][2] += s2
    fits = []
    for c, n_total, s_total in blocks:
        fits.extend([s_total / n_total] * c)
    assert len(fits) == len(rows)
    prev = -1.0
    for r, f in zip(rows, fits):
        assert abs(r["iso_rate"] - f) < 1e-4
        assert r["iso_rate"] >= prev - 1e-9
        prev = r["iso_rate"]


# ---------------------------------------------------------------------------
# Waves 7–10: classical-ML scorecard, inference tests,
# fraud screens II.
# ---------------------------------------------------------------------------


def test_naive_bayes_matches_bruteforce(spark):
    import collections

    from fraud_detection_project_spark.catalog import load_table

    rows = QUERIES["naive_bayes_event_type"](spark, SF).collect()
    pdf = (
        load_table(spark, SF, "events")
        .select(
            "event_id",
            F.col("event_type").alias("cls"),
            (F.hour("ts") / F.lit(4)).cast("long").alias("hb"),
            F.weekday("ts").cast("long").alias("dw"),
        )
        .toPandas()
    )
    train = pdf[pdf.event_id % 2 == 0]
    ev = pdf[pdf.event_id % 2 == 1]
    nc = collections.Counter(train.cls)
    nhb = collections.Counter(zip(train.cls, train.hb))
    ndw = collections.Counter(zip(train.cls, train.dw))
    classes = sorted(nc)

    def predict(hb, dw):
        best = None
        for c in classes:
            score = (
                float(nc[c])
                * ((nhb[(c, hb)] + 1) / (nc[c] + 6.0))
                * ((ndw[(c, dw)] + 1) / (nc[c] + 7.0))
            )
            # ties break on class name ascending under DESC score
            if best is None or score > best[0] + 1e-15:
                best = (score, c)
        return best[1]

    correct = collections.Counter()
    total = collections.Counter()
    for _, r in ev.iterrows():
        total[r.cls] += 1
        if predict(r.hb, r.dw) == r.cls:
            correct[r.cls] += 1
    for row in rows:
        assert row["n_eval"] == total[row["cls"]]
        assert row["n_correct"] == correct[row["cls"]]


def test_decision_stump_matches_bruteforce(spark):
    import numpy as np

    from fraud_detection_project_spark.catalog import load_table

    rows = QUERIES["decision_stump_value"](spark, SF).collect()
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", (F.col("event_type") == "purchase").alias("pos"))
        .toPandas()
    )
    v = pdf.value.to_numpy()
    y = pdf.pos.to_numpy().astype(int)

    def ent(p, n):
        if p <= 0 or p >= n:
            return 0.0
        f = p / n
        return -f * math.log(f) - (1 - f) * math.log(1 - f)

    for row in rows:
        thr = np.quantile(v, row["decile"] / 10.0)  # linear interp ≡ percentile
        left = v <= thr
        n_l, p_l = int(left.sum()), int(y[left].sum())
        n_r, p_r = len(v) - n_l, int(y.sum()) - p_l
        assert row["n_left"] == n_l and row["pos_left"] == p_l
        assert row["n_right"] == n_r and row["pos_right"] == p_r
        gain = (
            ent(p_l + p_r, n_l + n_r)
            - n_l / (n_l + n_r) * ent(p_l, n_l)
            - n_r / (n_l + n_r) * ent(p_r, n_r)
        )
        assert abs(row["info_gain"] - gain) < 1e-5


def test_ols_matches_numpy_lstsq(spark):
    import numpy as np

    from fraud_detection_project_spark.catalog import load_table

    row = QUERIES["ols_daily_orders_trend"](spark, SF).collect()[0]
    pdf = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .toPandas()
        .sort_values("day")
    )
    d0 = pdf.day.min()
    t = (pdf.day - d0).dt.days.to_numpy().astype(float)
    w = (pdf.day.dt.weekday >= 5).to_numpy().astype(float)
    y = pdf.y.to_numpy().astype(float)
    X = np.column_stack([np.ones_like(t), t, w])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(row["beta_intercept"] - beta[0]) < 1e-4
    assert abs(row["beta_trend"] - beta[1]) < 1e-4
    assert abs(row["beta_weekend"] - beta[2]) < 1e-4
    resid = y - X @ beta
    r2 = 1 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert abs(row["r2"] - r2) < 1e-4


def test_ljung_box_matches_bruteforce(spark):
    import numpy as np

    from fraud_detection_project_spark.catalog import load_table

    rows = QUERIES["ljung_box_daily_revenue"](spark, SF).collect()
    pdf = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .toPandas()
        .sort_values("day")
    )
    y = pdf.y.to_numpy()
    n = len(y)
    d = y - y.mean()
    c0 = float(d @ d)
    q = 0.0
    for row in rows:
        k = row["lag"]
        rk = float(d[k:] @ d[:-k]) / c0
        q += rk * rk / (n - k)
        assert abs(row["acf"] - rk) < 1e-5
        assert abs(row["lb_q"] - n * (n + 2) * q) < 1e-3


def test_brown_forsythe_matches_bruteforce(spark):
    import numpy as np

    from fraud_detection_project_spark.catalog import load_table

    rows = QUERIES["brown_forsythe_value_types"](spark, SF).collect()
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    groups = {
        t: g.value.to_numpy() for t, g in pdf.groupby("event_type")
    }
    zs = {
        t: np.abs(g - np.quantile(g, 0.5)) for t, g in groups.items()
    }
    nn = sum(len(z) for z in zs.values())
    k = len(zs)
    zbar = {t: z.mean() for t, z in zs.items()}
    zgrand = sum(z.sum() for z in zs.values()) / nn
    num = sum(len(zs[t]) * (zbar[t] - zgrand) ** 2 for t in zs)
    den = sum(((zs[t] - zbar[t]) ** 2).sum() for t in zs)
    bf = (nn - k) / (k - 1) * num / den
    for row in rows:
        assert abs(row["bf_stat"] - bf) < 1e-4
        assert abs(row["mean_abs_dev"] - zbar[row["event_type"]]) < 1e-5


def test_cramers_v_matches_bruteforce(spark):
    import numpy as np

    from fraud_detection_project_spark.catalog import load_table

    rows = {r["pair"]: r for r in QUERIES["cramers_v_panel"](spark, SF).collect()}
    pdf = (
        load_table(spark, SF, "events")
        .select(
            F.col("event_type").alias("t"),
            (F.hour("ts") / F.lit(4)).cast("long").alias("hb"),
            F.weekday("ts").cast("long").alias("dw"),
        )
        .toPandas()
    )

    def chi2_v(a, b):
        ct = pdf.groupby([a, b]).size().unstack(fill_value=0).to_numpy()
        n = ct.sum()
        exp = ct.sum(1, keepdims=True) * ct.sum(0, keepdims=True) / n
        chi2 = ((ct - exp) ** 2 / exp)[exp > 0].sum()
        r, c = ct.shape
        return chi2, math.sqrt(chi2 / (n * min(r - 1, c - 1)))

    for pair, (a, b) in {
        "type_x_hourband": ("t", "hb"),
        "type_x_weekday": ("t", "dw"),
        "hourband_x_weekday": ("hb", "dw"),
    }.items():
        chi2, v = chi2_v(a, b)
        assert abs(rows[pair]["chi2"] - chi2) < 1e-3
        assert abs(rows[pair]["cramers_v"] - v) < 1e-5


def test_scd2_interval_integrity_clean_fixture(spark):
    row = QUERIES["scd2_interval_integrity"](spark, SF).collect()[0]
    assert row["n_zero_match"] == 0
    assert row["n_multi_match"] == 0
    assert row["n_single_match"] == row["n_events"]
    assert bool(row["types_consistent"])
    assert row["n_intervals"] >= row["n_users"]


def test_off_policy_evaluation_matches_bruteforce(spark):
    import collections

    from fraud_detection_project_spark.catalog import load_table

    row = QUERIES["off_policy_evaluation"](spark, SF).collect()[0]
    pdf = (
        load_table(spark, SF, "events")
        .select(
            "event_id",
            (F.hour("ts") / F.lit(4)).cast("long").alias("x"),
            F.col("event_type").alias("a"),
            F.coalesce("value", F.lit(0.0)).alias("r"),
        )
        .toPandas()
    )
    train = pdf[pdf.event_id % 2 == 0]
    ev = pdf[pdf.event_id % 2 == 1]
    k = train.a.nunique()
    n_x = train.groupby("x").size().to_dict()
    n_xa = train.groupby(["x", "a"]).size().to_dict()
    m = train.groupby(["x", "a"]).r.mean().to_dict()
    sum_m = collections.defaultdict(float)
    for (x, a), v in m.items():
        sum_m[x] += v
    ws, wr, drs = [], [], []
    for _, e in ev.iterrows():
        w = n_x[e.x] / (k * n_xa[(e.x, e.a)])
        ws.append(w)
        wr.append(w * e.r)
        drs.append(sum_m[e.x] / k + w * (e.r - m[(e.x, e.a)]))
    n = len(ws)
    assert row["n_eval"] == n and row["k_actions"] == k
    assert abs(row["ips_value"] - sum(wr) / n) < 1e-4
    assert abs(row["snips_value"] - sum(wr) / sum(ws)) < 1e-4
    assert abs(row["dr_value"] - sum(drs) / n) < 1e-4
    ess = sum(ws) ** 2 / sum(w * w for w in ws) / n
    assert abs(row["ess_fraction"] - ess) < 1e-4


def test_replay_greedy_matches_bruteforce(spark):
    from fraud_detection_project_spark.catalog import load_table

    rows = {r["x"]: r for r in QUERIES["replay_greedy_policy"](spark, SF).collect()}
    pdf = (
        load_table(spark, SF, "events")
        .select(
            "event_id",
            (F.hour("ts") / F.lit(4)).cast("long").alias("x"),
            F.col("event_type").alias("a"),
            F.coalesce("value", F.lit(0.0)).alias("r"),
        )
        .toPandas()
    )
    train = pdf[pdf.event_id % 2 == 0]
    ev = pdf[pdf.event_id % 2 == 1]
    m6 = train.groupby(["x", "a"]).r.mean().round(6)
    for x in sorted(ev.x.unique()):
        cands = sorted(
            ((-v, a) for (xx, a), v in m6.items() if xx == x)
        )
        a_star = cands[0][1]
        sub = ev[(ev.x == x) & (ev.a == a_star)]
        assert rows[x]["greedy_action"] == a_star
        assert rows[x]["n_matched"] == len(sub)
        assert abs(rows[x]["replay_value"] - sub.r.mean()) < 1e-4


def test_lang_id_confusion_diagonal_and_zh_gap(spark):
    rows = QUERIES["lang_id_confusion"](spark, SF).collect()
    cells = {(r["true_lang"], r["pred_lang"]): r["n"] for r in rows}
    # zh has no stopword profile: it must never be predicted correctly.
    assert ("zh", "zh") not in cells
    # English dominates its own row (the heuristic's strongest profile);
    # es/fr share stopwords ('de','la','en') so their rows may bleed into
    # each other — we assert only that they resolve to SOME Latin profile,
    # not 'und'.
    diag_en = cells.get(("en", "en"), 0)
    total_en = sum(n for (t, _), n in cells.items() if t == "en")
    assert diag_en / total_en > 0.5, (diag_en, total_en)
    for lang in ("es", "fr", "de"):
        und = cells.get((lang, "und"), 0)
        total = sum(n for (t, _), n in cells.items() if t == lang)
        assert und / total < 0.5, (lang, und, total)
    # row shares sum to 1 per true lang
    import collections

    shares = collections.defaultdict(float)
    for r in rows:
        shares[r["true_lang"]] += r["row_share"]
    for v in shares.values():
        assert abs(v - 1.0) < 1e-4


def test_nearest_centroid_matches_numpy(spark):
    import numpy as np

    from fraud_detection_project_spark.catalog import load_table

    rows = {r["true_label"]: r for r in QUERIES["nearest_centroid_eval"](spark, SF).collect()}
    pdf = load_table(spark, SF, "embeddings").toPandas()
    X = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    y = pdf.label.to_numpy()
    train = pdf.vec_id.to_numpy() % 2 == 0
    labels = sorted(set(y[train]))
    cents = np.stack([X[train & (y == l)].mean(0) for l in labels])
    Xe, ye = X[~train], y[~train]
    d2 = ((Xe[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    pred = np.array(labels)[d2.argmin(1)]
    for l in sorted(set(ye)):
        sel = ye == l
        assert rows[l]["n_eval"] == int(sel.sum())
        assert rows[l]["n_correct"] == int((pred[sel] == l).sum())


def test_time_to_convert_matches_bruteforce(spark):
    from fraud_detection_project_spark.catalog import load_table

    row = QUERIES["time_to_convert_stats"](spark, SF).collect()[0]
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "event_type",
                F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    lat = []
    n_purch = 0
    for _, g in pdf.groupby("user_id"):
        last_view = None
        for _, e in g.iterrows():
            if e.event_type == "purchase":
                n_purch += 1
                if last_view is not None:
                    lat.append((e.ts_us - last_view) / 1e6)
            if e.event_type == "view":
                last_view = e.ts_us
    import numpy as np

    assert row["n_purchases"] == n_purch
    assert row["n_with_prior_view"] == len(lat)
    assert abs(row["p50_s"] - np.quantile(lat, 0.5)) < 1e-4
    assert abs(row["mean_s"] - np.mean(lat)) < 1e-4


def test_dau_wau_matches_bruteforce(spark):
    from fraud_detection_project_spark.catalog import load_table

    rows = {r["epoch_day"]: r for r in QUERIES["dau_wau_stickiness"](spark, SF).collect()}
    pdf = (
        load_table(spark, SF, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .toPandas()
    )
    pdf["eday"] = (pdf.day - __import__("datetime").date(1970, 1, 1)).map(
        lambda d: d.days
    )
    by_day = pdf.groupby("eday").user_id.apply(set).to_dict()
    for d, users in by_day.items():
        wau = set()
        for k in range(7):
            wau |= by_day.get(d - k, set())
        assert rows[d]["dau"] == len(users)
        assert rows[d]["wau"] == len(wau)
        assert abs(rows[d]["stickiness"] - len(users) / len(wau)) < 1e-5


def test_l_diversity_matches_bruteforce(spark):
    rows = {
        (r["hb"], r["dw"]): r
        for r in QUERIES["l_diversity_audit"](spark, SF).collect()
    }
    pdf = (
        load_table(spark, SF, "events")
        .select(
            (F.hour("ts") / F.lit(4)).cast("long").alias("hb"),
            F.weekday("ts").cast("long").alias("dw"),
            "event_type",
        )
        .toPandas()
    )
    for (hb, dw), g in pdf.groupby(["hb", "dw"]):
        cnt = Counter(g.event_type)
        n = len(g)
        ent = -sum(c / n * math.log(c / n) for c in cnt.values())
        r = rows[(hb, dw)]
        assert r["n_rows"] == n
        assert r["distinct_l"] == len(cnt)
        assert abs(r["entropy_l"] - math.exp(ent)) < 1e-4
        assert r["meets_3_diversity"] == (len(cnt) >= 3)
    min_l = min(r["distinct_l"] for r in rows.values())
    assert all(r["min_distinct_l"] == min_l for r in rows.values())


def test_phrase_search_matches_bruteforce(spark):
    import re

    rows = QUERIES["phrase_search_positional"](spark, SF).collect()
    assert rows and all(r["substring_check"] for r in rows)
    pdf = load_table(spark, SF, "documents").toPandas()
    toks = {
        r.doc_id: re.sub(r"[^a-zA-Z0-9]+", " ", r.text.lower()).strip().split()
        for r in pdf.itertuples()
    }
    bg = Counter()
    for t in toks.values():
        bg.update(zip(t, t[1:]))
    top = max(bg.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in " ".join(kv[0])]))
    # deterministic argmax: max count, then lexicographically smallest
    best_n = max(bg.values())
    w1, w2 = min(k for k, v in bg.items() if v == best_n)
    assert rows[0]["phrase"] == f"{w1} {w2}"
    per_doc = {
        d: sum(1 for x, y in zip(t, t[1:]) if (x, y) == (w1, w2))
        for d, t in toks.items()
    }
    expected = sorted(
        ((n, d) for d, n in per_doc.items() if n > 0),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    got = [(r["n_occurrences"], r["doc_id"]) for r in rows]
    assert got == expected


def test_mann_kendall_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy()
    n = len(y)
    s = sum(
        (1 if y[j] > y[i] else -1 if y[j] < y[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    var_s = n * (n - 1) * (2 * n + 5) / 18.0  # continuous: no ties
    z = (s - (1 if s > 0 else -1 if s < 0 else 0)) / math.sqrt(var_s)
    r = QUERIES["mann_kendall_daily_trend"](spark, SF).collect()[0]
    assert r["n_days"] == n and r["s_stat"] == s
    assert abs(r["z_mk"] - z) < 1e-5


def test_runs_test_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy()
    signs = [1 if b > a else -1 for a, b in zip(y, y[1:]) if b != a]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1 = signs.count(1)
    n2 = signs.count(-1)
    er = 2 * n1 * n2 / (n1 + n2) + 1
    vr = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    )
    r = QUERIES["runs_test_daily"](spark, SF).collect()[0]
    assert (r["n_up"], r["n_down"], r["n_runs"]) == (n1, n2, runs)
    assert abs(r["z_runs"] - (runs - er) / math.sqrt(vr)) < 1e-5


def test_hodges_lehmann_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select("event_id", "event_type", "value")
        .toPandas()
    )
    pdf["h"] = (pdf.event_id * 1000003 + 7) % 999983 * 40503 % 999983
    samp = {}
    for t, g in pdf.groupby("event_type"):
        samp[t] = g.sort_values(["h", "event_id"]).value.to_numpy()[:200]
    diffs = np.subtract.outer(samp["purchase"], samp["view"]).ravel()
    r = QUERIES["hodges_lehmann_shift"](spark, SF).collect()[0]
    assert r["n_purchase_sample"] == len(samp["purchase"])
    assert r["n_view_sample"] == len(samp["view"])
    assert abs(r["hl_shift"] - np.quantile(diffs, 0.5)) < 1e-4


def test_prefix_extreme_matches_window(spark):
    import random

    from fraud_detection_project_spark.operators.indexing import (
        partitioned_prefix_extreme,
    )

    random.seed(11)
    rows = [(i, float(random.randint(-20, 20))) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = (
        partitioned_prefix_extreme(df, ["k"], "v", "m", num_partitions=5)
        .orderBy("k")
        .collect()
    )
    run = None
    for (k, v), r in zip(sorted(rows), got):
        run = v if run is None else max(run, v)
        assert r["m"] == run


def test_prefix_extreme_null_rows_inherit_running_extreme(spark):
    """NULL values must INHERIT the running extreme (SQL MAX() OVER
    semantics) instead of emitting NULL, and a partition
    whose tail rows are NULL must still carry the extreme into the next
    range partition. NULL-prefix rows (before any value) emit NULL."""
    import random

    from fraud_detection_project_spark.operators.indexing import (
        partitioned_prefix_extreme,
    )

    random.seed(13)
    rows = [
        (i, None if random.random() < 0.4 else float(random.randint(-20, 20)))
        for i in range(400)
    ]
    # force NULL runs at range-partition boundaries (leading + trailing)
    rows[0] = (0, None)
    rows[1] = (1, None)
    for i in range(75, 85):
        rows[i] = (i, None)
    df = spark.createDataFrame(rows, "k long, v double")
    got = (
        partitioned_prefix_extreme(df, ["k"], "v", "m", num_partitions=5)
        .orderBy("k")
        .collect()
    )
    run = None
    for (k, v), r in zip(sorted(rows, key=lambda t: t[0]), got):
        if v is not None:
            run = v if run is None else max(run, v)
        assert r["m"] == run, (k, v, run, r["m"])


def test_skyline_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .toPandas()
    )
    pts = list(
        zip(pdf.p_partkey, pdf.p_retailprice, pdf.p_size)
    )
    expected = sorted(
        (round(pr, 2), k, s)
        for k, pr, s in pts
        if not any(
            qpr <= pr and qs >= s and (qpr < pr or qs > s)
            for _, qpr, qs in pts
        )
    )
    got = [
        (r["price"], r["p_partkey"], r["size"])
        for r in QUERIES["skyline_price_size"](spark, SF).collect()
    ]
    assert got == expected


def test_markov_attribution_matches_bruteforce(spark):
    rows = {
        r["channel"]: r
        for r in QUERIES["markov_removal_attribution"](spark, SF).collect()
    }
    pdf = (
        load_table(spark, SF, "events")
        .select(
            "user_id", "event_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    edges = Counter()
    for _, g in pdf.groupby("user_id"):
        sessions, prev_ts = [], None
        for _, e in g.iterrows():
            if prev_ts is None or e.ts_us - prev_ts > 1_800_000_000:
                sessions.append([])
            sessions[-1].append(e.state)
            prev_ts = e.ts_us
        for states in sessions:
            journey = []
            for s in states:
                journey.append(s)
                if s == "conv":
                    break
            prev = "start"
            for s in journey:
                edges[(prev, s)] += 1
                prev = s
            if journey[-1] != "conv":
                edges[(journey[-1], "null")] += 1
    tot = Counter()
    for (s, _), n in edges.items():
        tot[s] += n
    P = {(s, d): n / tot[s] for (s, d), n in edges.items()}

    def absorb(removed):
        states = sorted({s for s, _ in P if s != removed})
        v = {s: 0.0 for s in states}
        for _ in range(20):
            v = {
                s: sum(
                    pr * (1.0 if d == "conv" else v.get(d, 0.0))
                    for (src, d), pr in P.items()
                    if src == s and d != removed
                )
                for s in states
            }
        return v.get("start", 0.0)

    base = absorb(None)
    channels = sorted(s for s in tot if s != "start")
    effs = {ch: (base - absorb(ch)) / base for ch in channels}
    assert set(rows) == set(channels)
    for ch in channels:
        assert abs(rows[ch]["p_conv_base"] - base) < 1e-5
        assert abs(rows[ch]["removal_effect"] - effs[ch]) < 1e-5
        assert (
            abs(rows[ch]["attribution_share"] - effs[ch] / sum(effs.values()))
            < 1e-5
        )


def test_order_reconciliation_totals(spark):
    rows = QUERIES["order_total_reconciliation"](spark, SF).collect()
    pdf_o = load_table(spark, SF, "orders").toPandas()
    pdf_l = load_table(spark, SF, "lineitem").toPandas()
    ls = (
        pdf_l.assign(
            s=pdf_l.l_extendedprice
            * (1 - pdf_l.l_discount)
            * (1 + pdf_l.l_tax)
        )
        .groupby("l_orderkey")
        .s.sum()
    )
    for r in rows:
        sub = pdf_o[pdf_o.o_orderstatus == r["status"]]
        assert r["n_orders"] == len(sub)
        matched = sub.o_orderkey.isin(ls.index)
        assert r["n_no_lineitems"] == int((~matched).sum())
        assert abs(r["header_total"] - sub.o_totalprice.sum()) < 1.0


def test_sequence_pattern_matches_bruteforce(spark):
    import re

    r = QUERIES["sequence_pattern_match"](spark, SF).collect()[0]
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id",
                F.expr("ts_ns div 1000").alias("ts_us"), "event_type")
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    ch = {"view": "v", "click": "c", "purchase": "p", "error": "e",
          "signup": "s"}
    seqs = []
    for _, g in pdf.groupby("user_id"):
        prev = None
        for _, e in g.iterrows():
            if prev is None or e.ts_us - prev > 1_800_000_000:
                seqs.append("")
            seqs[-1] += ch[e.event_type]
            prev = e.ts_us
    clean = sum(1 for s in seqs if re.search(r"v[^e]*c[^e]*p", s))
    anyf = sum(1 for s in seqs if re.search(r"v.*c.*p", s))
    burst = sum(1 for s in seqs if re.search(r"ee+", s))
    assert r["n_sessions"] == len(seqs)
    assert r["n_funnel_any"] == anyf
    assert r["n_funnel_clean"] == clean
    assert r["n_error_burst"] == burst


def test_randomization_test_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select("event_id", "value", "event_type")
        .toPandas()
    )
    grp = (pdf.event_type == "purchase").to_numpy().astype(int)
    v = pdf.value.to_numpy()
    eid = pdf.event_id.to_numpy()
    n, n1 = len(v), int(grp.sum())
    d_obs = v[grp == 1].mean() - v[grp == 0].mean()
    ds = []
    for b in range(200):
        h = (eid * (1000003 + 2 * b) + b) % 999983 * 40503 % 999983 % n
        g = (h < n1).astype(int)
        ds.append(v[g == 1].mean() - v[g == 0].mean())
    p = sum(1 for d in ds if abs(d) >= abs(d_obs)) / 200
    r = QUERIES["randomization_test_value"](spark, SF).collect()[0]
    assert r["n_purchase"] == n1 and r["n_view"] == n - n1
    assert abs(r["observed_diff"] - d_obs) < 1e-4
    assert abs(r["p_value"] - p) < 1e-9
    assert abs(r["null_mean"] - np.mean(ds)) < 1e-4


def test_rich_club_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order = {}
    for o, p in zip(pdf.l_orderkey, pdf.l_partkey):
        by_order.setdefault(o, set()).add(p)
    w = Counter()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            w[(a, b)] += 1
    edges = [e for e, c in w.items() if c >= 2]
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    ds = np.array(sorted(deg.values()), dtype=float)
    rows = {r["pct"]: r for r in QUERIES["rich_club_coefficient"](spark, SF).collect()}
    for pct, q in ((50, 0.5), (75, 0.75), (90, 0.9)):
        k = np.quantile(ds, q)
        club = {n for n, d in deg.items() if d > k}
        ek = sum(1 for a, b in edges if a in club and b in club)
        nk = len(club)
        r = rows[pct]
        assert r["n_nodes"] == nk
        assert r["n_edges"] == ek
        assert abs(r["phi"] - 2 * ek / max(nk * (nk - 1), 1)) < 1e-5


def test_triplet_margin_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "embeddings").toPandas()
    X = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    labs = pdf.label.to_numpy()
    h = (ids * 1000003 + 7) % 999983 * 40503 % 999983

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    order = {}
    for l in sorted(set(labs)):
        sel = np.where(labs == l)[0]
        sel = sel[np.lexsort((ids[sel], h[sel]))]
        order[l] = sel
    lab_sorted = sorted(order)
    nxt = {l: lab_sorted[(i + 1) % len(lab_sorted)]
           for i, l in enumerate(lab_sorted)}
    rows = {r["label"]: r for r in QUERIES["triplet_margin_audit"](spark, SF).collect()}
    for l in lab_sorted:
        sel = order[l]
        if len(sel) < 2:
            assert l not in rows
            continue
        rep_neg = X[order[nxt[l]][0]]
        margins, pos_cos, neg_cos, sat = [], [], [], 0
        for i, idx in enumerate(sel):
            pidx = sel[(i + 1) % len(sel)]
            cp, cn = cos(X[idx], X[pidx]), cos(X[idx], rep_neg)
            pos_cos.append(cp)
            neg_cos.append(cn)
            margins.append(cp - cn)
            sat += cp > cn
        r = rows[l]
        assert r["n_triplets"] == len(sel)
        assert abs(r["mean_cos_pos"] - np.mean(pos_cos)) < 1e-5
        assert abs(r["mean_margin"] - np.mean(margins)) < 1e-5
        assert abs(r["satisfied_rate"] - sat / len(sel)) < 1e-6


def test_huber_irls_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    t = (daily.day - daily.day.min()).dt.days.to_numpy(dtype=float)
    y = daily.y.to_numpy(dtype=float)
    n = len(y)

    def wols(w):
        b = (w.sum() * (w * t * y).sum() - (w * t).sum() * (w * y).sum()) / (
            w.sum() * (w * t * t).sum() - (w * t).sum() ** 2
        )
        a = ((w * y).sum() - b * (w * t).sum()) / w.sum()
        return a, b

    a, b = wols(np.ones(n))
    b_ols = b
    r = np.abs(y - (a + b * t))
    s = 1.4826 * np.quantile(r, 0.5)
    k = 1.345 * s
    for _ in range(3):
        r = np.abs(y - (a + b * t))
        w = np.minimum(1.0, k / np.where(r == 0, np.nan, r))
        w = np.where(np.isnan(w), 1.0, w)  # |r|=0 -> NULLIF -> weight NULL? engine treats as null; r==0 never happens with doubles
        a, b = wols(w)
    row = QUERIES["huber_irls_daily"](spark, SF).collect()[0]
    assert row["n_days"] == n
    assert abs(row["beta1_ols"] - b_ols) < 1e-4
    assert abs(row["beta1_huber"] - b) < 1e-4
    assert abs(row["beta0_huber"] - a) < 1e-2


def test_raking_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select(
            (F.hour("ts") / F.lit(4)).cast("long").alias("hb"),
            F.weekday("ts").cast("long").alias("dw"),
        )
        .toPandas()
    )
    cells = pdf.groupby(["hb", "dw"]).size()
    hbs = sorted(pdf.hb.unique())
    dws = sorted(pdf.dw.unique())
    n = np.zeros((len(hbs), len(dws)))
    for (hb, dw), cnt in cells.items():
        n[hbs.index(hb), dws.index(dw)] = cnt
    w = np.ones_like(n)
    nn = n.sum()
    tr, tc = nn / len(hbs), nn / len(dws)
    for _ in range(3):
        w *= tr / (n * w).sum(1, keepdims=True)
        w *= tc / (n * w).sum(0, keepdims=True)
    rows = {(r["hb"], r["dw"]): r for r in QUERIES["raking_ipf_calibration"](spark, SF).collect()}
    for i, hb in enumerate(hbs):
        for j, dw in enumerate(dws):
            if n[i, j] == 0:
                continue
            r = rows[(hb, dw)]
            assert abs(r["weight"] - w[i, j]) < 1e-4
            assert abs(r["calibrated"] - n[i, j] * w[i, j]) < 1e-2


def test_anova_tukey_match_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    groups = {t: g.value.to_numpy() for t, g in pdf.groupby("event_type")}
    nn = sum(len(v) for v in groups.values())
    k = len(groups)
    gm = np.concatenate(list(groups.values())).mean()
    ssb = sum(len(v) * (v.mean() - gm) ** 2 for v in groups.values())
    ssw = sum(((v - v.mean()) ** 2).sum() for v in groups.values())
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    r = QUERIES["anova_oneway_value"](spark, SF).collect()[0]
    assert r["n"] == nn and r["k_groups"] == k
    assert abs(r["f_stat"] - f) < 1e-4
    assert abs(r["eta_squared"] - ssb / (ssb + ssw)) < 1e-5
    mse = ssw / (nn - k)
    rows = {
        (t["group_a"], t["group_b"]): t
        for t in QUERIES["tukey_hsd_pairs"](spark, SF).collect()
    }
    names = sorted(groups)
    for i, ga in enumerate(names):
        for gb in names[i + 1:]:
            se = math.sqrt(
                mse / 2 * (1 / len(groups[ga]) + 1 / len(groups[gb]))
            )
            q = (groups[ga].mean() - groups[gb].mean()) / se
            t = rows[(ga, gb)]
            assert abs(t["q_stat"] - q) < 1e-4


def test_qte_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    p = pdf[pdf.event_type == "purchase"].value.to_numpy()
    v = pdf[pdf.event_type == "view"].value.to_numpy()
    rows = QUERIES["quantile_treatment_effects"](spark, SF).collect()
    assert len(rows) == 9
    for r in rows:
        q = r["decile"] / 10.0
        assert abs(r["q_purchase"] - np.quantile(p, q)) < 1e-4
        assert abs(r["qte"] - (np.quantile(p, q) - np.quantile(v, q))) < 1e-4


def test_logrank_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_type")
        .toPandas()
    )
    end_us = pdf.ts_us.max()
    subj = []
    for uid, g in pdf.groupby("user_id"):
        first = g.ts_us.min()
        purch = g[g.event_type == "purchase"].ts_us
        if len(purch):
            subj.append((first, (purch.min() - first) // 86_400_000_000, 1))
        else:
            subj.append((first, (end_us - first) // 86_400_000_000, 0))
    med = np.quantile([s[0] for s in subj], 0.5)
    subj = [(1 if f <= med else 0, t, o) for f, t, o in subj]
    days = sorted({t for _, t, o in subj if o})
    o1 = e1 = v1 = 0.0
    for d in days:
        n = sum(1 for _, t, _ in subj if t >= d)
        n1 = sum(1 for g, t, _ in subj if t >= d and g == 1)
        da = sum(1 for _, t, o in subj if t == d and o)
        d1 = sum(1 for g, t, o in subj if t == d and o and g == 1)
        o1 += d1
        e1 += da * n1 / n
        if n > 1:
            v1 += da * (n1 / n) * (1 - n1 / n) * (n - da) / (n - 1)
    r = QUERIES["logrank_test_cohorts"](spark, SF).collect()[0]
    assert r["observed_events_early"] == int(o1)
    assert abs(r["expected_events_early"] - e1) < 1e-4
    assert abs(r["logrank_chi2"] - (o1 - e1) ** 2 / v1) < 1e-3


def test_fisher_index_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select(
            F.date_trunc("month", "l_shipdate").alias("mon"),
            "l_partkey", "l_quantity", "l_extendedprice",
        )
        .toPandas()
    )
    g = (
        pdf.groupby(["mon", "l_partkey"])
        .agg(q=("l_quantity", "sum"), ext=("l_extendedprice", "sum"))
        .reset_index()
    )
    g["p"] = g.ext / g.q
    months = sorted(g.mon.unique())
    rows = {
        r["epoch_month"]: r
        for r in QUERIES["fisher_price_index_monthly"](spark, SF).collect()
    }
    checked = 0
    for prev, cur in zip(months, months[1:]):
        if (cur.year - prev.year) * 12 + cur.month - prev.month != 1:
            continue
        a = g[g.mon == prev].set_index("l_partkey")
        b = g[g.mon == cur].set_index("l_partkey")
        common = a.index.intersection(b.index)
        if not len(common):
            continue
        p0, q0 = a.loc[common].p, a.loc[common].q
        p1, q1 = b.loc[common].p, b.loc[common].q
        em = (cur.year - 1970) * 12 + cur.month - 1
        r = rows[em]
        assert r["n_common_parts"] == len(common)
        las = (p1 * q0).sum() / (p0 * q0).sum()
        paa = (p1 * q1).sum() / (p0 * q1).sum()
        assert abs(r["laspeyres"] - las) < 1e-4
        assert abs(r["paasche"] - paa) < 1e-4
        assert abs(r["fisher"] - math.sqrt(las * paa)) < 1e-4
        checked += 1
    assert checked >= 5


def test_u_shaped_attribution_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "event_type",
                F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    credit = Counter()
    touches = Counter()
    for uid, g in pdf.groupby("user_id"):
        purch = g[g.event_type == "purchase"]
        if purch.empty:
            continue
        conv = purch.ts_us.min()
        pre = g[(g.ts_us < conv) & (g.event_type != "purchase")]
        n = len(pre)
        for i, (_, e) in enumerate(pre.iterrows(), 1):
            touches[e.event_type] += 1
            if n == 1:
                credit[e.event_type] += 1.0
            elif n == 2:
                credit[e.event_type] += 0.5
            elif i in (1, n):
                credit[e.event_type] += 0.4
            else:
                credit[e.event_type] += 0.2 / (n - 2)
    rows = {r["channel"]: r for r in QUERIES["attribution_u_shaped"](spark, SF).collect()}
    assert set(rows) == set(credit)
    for ch in credit:
        assert rows[ch]["n_touches"] == touches[ch]
        assert abs(rows[ch]["credit"] - credit[ch]) < 1e-3


def test_cif_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_type")
        .toPandas()
    )
    end = pdf.ts_us.max()
    subs = []
    for _, g in pdf.groupby("user_id"):
        first = g.ts_us.min()
        p = g[g.event_type == "purchase"].ts_us.min()
        e = g[g.event_type == "error"].ts_us.min()
        import pandas as pd

        p = None if pd.isna(p) else p
        e = None if pd.isna(e) else e
        if p is not None and (e is None or p <= e):
            subs.append(("purchase", (p - first) // 86_400_000_000))
        elif e is not None:
            subs.append(("error", (e - first) // 86_400_000_000))
        else:
            subs.append(("censored", (end - first) // 86_400_000_000))
    days = sorted({t for o, t in subs if o != "censored"})
    s = 1.0
    cif_p = cif_e = 0.0
    expected = {}
    for d in days:
        n = sum(1 for _, t in subs if t >= d)
        dp = sum(1 for o, t in subs if t == d and o == "purchase")
        de = sum(1 for o, t in subs if t == d and o == "error")
        if (dp + de) / n >= 1.0:
            continue
        cif_p += s * dp / n
        cif_e += s * de / n
        s *= 1 - (dp + de) / n
        expected[d] = (n, dp, de, s, cif_p, cif_e)
    rows = {r["t_day"]: r for r in QUERIES["cumulative_incidence_competing"](spark, SF).collect()}
    assert set(rows) == set(expected)
    for d, (n, dp, de, s_, cp, ce) in expected.items():
        r = rows[d]
        assert (r["n_risk"], r["d_purchase"], r["d_error"]) == (n, dp, de)
        assert abs(r["surv"] - s_) < 1e-5
        assert abs(r["cif_purchase"] - cp) < 1e-5
        assert abs(r["cif_error"] - ce) < 1e-5
    # CIFs + survival partition probability mass
    last = rows[max(rows)]
    assert abs(
        last["surv"] + last["cif_purchase"] + last["cif_error"] - 1.0
    ) < 0.05 or last["surv"] >= 0


def test_nrr_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select("o_custkey",
                F.date_trunc("month", "o_orderdate").alias("mon"),
                "o_totalprice")
        .toPandas()
    )
    g = (
        pdf.groupby(["o_custkey", "mon"]).o_totalprice.sum().reset_index()
    )
    rows = {r["epoch_month"]: r for r in QUERIES["net_revenue_retention_monthly"](spark, SF).collect()}
    months = sorted(g.mon.unique())
    checked = 0
    for prev, cur in zip(months, months[1:]):
        if (cur.year - prev.year) * 12 + cur.month - prev.month != 1:
            continue
        a = g[g.mon == prev]
        b = g[g.mon == cur]
        retained = b[b.o_custkey.isin(set(a.o_custkey))]
        em = (cur.year - 1970) * 12 + cur.month - 1
        r = rows[em]
        assert r["n_prior_custs"] == len(a)
        assert r["n_retained_custs"] == len(retained)
        assert abs(r["nrr"] - retained.o_totalprice.sum() / a.o_totalprice.sum()) < 1e-4
        checked += 1
    assert checked >= 5


def test_eb_shrinkage_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("k"),
        )
        .filter(F.col("n") >= 10)
        .toPandas()
    )
    r = pdf.k / pdf.n
    m, v = r.mean(), r.var(ddof=1)
    common = m * (1 - m) / v - 1
    alpha, beta = m * common, (1 - m) * common
    pdf["shrunk"] = (pdf.k + alpha) / (pdf.n + alpha + beta)
    pdf["delta"] = (pdf.k / pdf.n - pdf.shrunk).abs().round(6)
    top = pdf.sort_values(["delta", "user_id"], ascending=[False, True]).head(20)
    rows = QUERIES["empirical_bayes_shrinkage"](spark, SF).collect()
    assert [r_["user_id"] for r_ in rows] == top.user_id.tolist()
    for r_, (_, e) in zip(rows, top.iterrows()):
        assert abs(r_["shrunk_rate"] - e.shrunk) < 1e-4
        assert abs(r_["alpha"] - alpha) < 1e-3


def test_shift_share_identity_and_values(spark):
    rows = QUERIES["shift_share_decomposition"](spark, SF).collect()
    assert rows
    total = None
    for r in rows:
        # exact decomposition identity per row (to rounding)
        assert abs(
            r["volume_effect"] + r["rate_effect"] + r["interaction"]
            - r["total_change"]
        ) < 0.02
        total = r["total_change_all"]
    assert abs(sum(r["total_change"] for r in rows) - total) < 0.05


def test_gpd_pwm_matches_bruteforce_and_uniform_identity(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", "event_id")
        .toPandas()
    )
    v = pdf.value.to_numpy()
    u = np.quantile(v, 0.95)
    exc = np.sort(v[v > u] - u)
    n = len(exc)
    a0 = exc.mean()
    a1 = ((n - np.arange(1, n + 1)) / (n - 1.0) * exc).sum() / n
    k = a0 / (a0 - 2 * a1) - 2
    xi, sigma = -k, 2 * a0 * a1 / (a0 - 2 * a1)
    r = QUERIES["gpd_tail_fit_pwm"](spark, SF).collect()[0]
    assert r["n_exceedances"] == n
    assert abs(r["gpd_shape"] - xi) < 1e-4
    assert abs(r["gpd_scale"] - sigma) < 1e-3
    # identity check: exact uniform order stats recover xi = -1
    m = 1001
    ex = np.arange(1, m + 1, dtype=float)  # uniform grid
    b = ex.mean()
    a1u = ((m - np.arange(1, m + 1)) / (m - 1.0) * ex).sum() / m
    assert abs(-(b / (b - 2 * a1u) - 2) - (-1.0)) < 0.01


def test_neyman_allocation_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    g = pdf.groupby("event_type").value.agg(["count", "std"])
    sum_ns = (g["count"] * g["std"]).sum()
    rows = {r["event_type"]: r for r in QUERIES["neyman_allocation_plan"](spark, SF).collect()}
    for t, row in g.iterrows():
        r = rows[t]
        assert r["stratum_size"] == row["count"]
        assert abs(r["neyman_n"] - row["count"] * row["std"] * 1000 / sum_ns) < 1e-2
    # allocations sum to the budget
    assert abs(sum(r["neyman_n"] for r in rows.values()) - 1000) < 0.01
    assert abs(sum(r["proportional_n"] for r in rows.values()) - 1000) < 0.01


def test_recsys_beyond_accuracy_matches_bruteforce(spark):
    li = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    part = load_table(spark, SF, "part").select("p_partkey", "p_brand").toPandas()
    brand = dict(zip(part.p_partkey, part.p_brand))
    by_order = {}
    for o, p in zip(li.l_orderkey, li.l_partkey):
        by_order.setdefault(o, set()).add(p)
    co = Counter()
    pop = Counter()
    for parts in by_order.values():
        for p in parts:
            pop[p] += 1
        for x in parts:
            for y in parts:
                if x != y:
                    co[(x, y)] += 1
    recs = {}
    for (s, r), w in co.items():
        recs.setdefault(s, []).append((-w, r))
    topk = {s: [r for _, r in sorted(v)[:3]] for s, v in recs.items()}
    n_ord = len(by_order)
    all_recs = {r for v in topk.values() for r in v}
    nov = [
        -math.log2(pop[r] / n_ord) for v in topk.values() for r in v
    ]
    ild = []
    for v in topk.values():
        pairs = [
            (a, b) for i, a in enumerate(v) for b in v[i + 1:]
        ]
        if pairs:
            ild.append(
                sum(brand[a] == brand[b] for a, b in pairs) / len(pairs)
            )
    r = QUERIES["recsys_beyond_accuracy"](spark, SF).collect()[0]
    assert r["n_parts_with_recs"] == len(topk)
    assert r["n_distinct_recommended"] == len(all_recs)
    assert abs(r["catalog_coverage"] - len(all_recs) / len(part)) < 1e-5
    assert abs(r["mean_novelty_bits"] - np.mean(nov)) < 1e-4
    assert abs(r["mean_intra_list_same_brand"] - np.mean(ild)) < 1e-4


def test_forecast_pi_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy()
    n = len(y)
    resid = y[7:] - y[:-7]  # fc at index i (8-based) pairs y[i] with y[i-7]
    cut = int(n * 0.8)
    # fc rows are i=8..n with residual y[i-1]-y[i-8] (1-based); train = i<=cut
    train = [y[i - 1] - y[i - 8] for i in range(8, cut + 1)]
    test = [(y[i - 1], y[i - 8]) for i in range(cut + 1, n + 1)]
    lo, hi = np.quantile(train, 0.1), np.quantile(train, 0.9)
    cov = np.mean([lo <= yy - yh <= hi for yy, yh in test])
    r = QUERIES["forecast_pi_coverage"](spark, SF).collect()[0]
    assert r["n_train"] == len(train) and r["n_test"] == len(test)
    assert abs(r["pi_lo_offset"] - lo) < 1e-2
    assert abs(r["pi_hi_offset"] - hi) < 1e-2
    assert abs(r["empirical_coverage"] - cov) < 1e-6


def test_p_chart_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select(F.to_date("ts").alias("day"), "event_type")
        .toPandas()
    )
    g = pdf.groupby("day").agg(
        n=("event_type", "size"),
        x=("event_type", lambda s: (s == "purchase").sum()),
    )
    p = g.x.sum() / g.n.sum()
    rows = {r["epoch_day"]: r for r in QUERIES["p_chart_daily_purchase"](spark, SF).collect()}
    import datetime

    for day, row in g.iterrows():
        ed = (day - datetime.date(1970, 1, 1)).days
        r = rows[ed]
        lim = 3 * math.sqrt(p * (1 - p) / row.n)
        assert r["n_events"] == row.n and r["n_purchases"] == row.x
        assert abs(r["lcl"] - (p - lim)) < 1e-5
        assert abs(r["ucl"] - (p + lim)) < 1e-5
        assert r["out_of_control"] == (
            row.x / row.n < p - lim or row.x / row.n > p + lim
        )


def test_partial_correlation_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", F.hour("ts").alias("h"), F.weekday("ts").alias("d"))
        .toPandas()
    )
    x, h, d = (
        pdf.value.to_numpy(),
        pdf.h.to_numpy(float),
        pdf.d.to_numpy(float),
    )
    r_xh = np.corrcoef(x, h)[0, 1]
    r_xd = np.corrcoef(x, d)[0, 1]
    r_hd = np.corrcoef(h, d)[0, 1]
    part = (r_xh - r_xd * r_hd) / math.sqrt(
        (1 - r_xd**2) * (1 - r_hd**2)
    )
    r = QUERIES["partial_correlation_panel"](spark, SF).collect()[0]
    assert abs(r["corr_value_hour"] - r_xh) < 1e-5
    assert abs(r["partial_value_hour_given_weekday"] - part) < 1e-5


def test_morans_i_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select(F.hour("ts").alias("hr"), "event_type")
        .toPandas()
    )
    g = pdf.groupby("hr").event_type.apply(
        lambda s: (s == "purchase").mean()
    )
    hrs = sorted(g.index)
    n = len(hrs)
    mu = g.mean()
    z = {h: g[h] - mu for h in hrs}
    cross = n_links = 0
    for h in hrs:
        for nb in ((h + 1) % 24, (h + 23) % 24):
            if nb in z:
                cross += z[h] * z[nb]
                n_links += 1
    ss = sum(v * v for v in z.values())
    r = QUERIES["morans_i_hour_ring"](spark, SF).collect()[0]
    assert r["n_hours"] == n and r["n_links"] == n_links
    assert abs(r["morans_i"] - (n / n_links) * cross / ss) < 1e-5


def test_c_index_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_type")
        .toPandas()
    )
    end = pdf.ts_us.max()
    subs = []
    for uid, g in pdf.groupby("user_id"):
        first = g.ts_us.min()
        purch = g[g.event_type == "purchase"].ts_us
        score = len(g)
        if len(purch):
            subs.append((uid, score, purch.min() - first, 1))
        else:
            subs.append((uid, score, end - first, 0))
    subs.sort(key=lambda s: ((s[0] * 1000003 + 7) % 999983 * 40503 % 999983, s[0]))
    subs = subs[:400]
    conc = tied = usable = 0
    for ua, sa, ta, oa in subs:
        if not oa:
            continue
        for ub, sb, tb, _ in subs:
            if ua != ub and ta < tb:
                usable += 1
                conc += sa > sb
                tied += sa == sb
    r = QUERIES["c_index_activity_ttp"](spark, SF).collect()[0]
    assert r["n_sampled"] == len(subs)
    assert r["n_usable_pairs"] == usable
    assert r["n_concordant"] == conc and r["n_tied"] == tied
    assert abs(r["c_index"] - (conc + 0.5 * tied) / usable) < 1e-6


def test_bradley_terry_matches_bruteforce(spark):
    li = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey", "l_extendedprice")
        .toPandas()
    )
    part = load_table(spark, SF, "part").select("p_partkey", "p_brand").toPandas()
    li = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    obr = (
        li.groupby(["l_orderkey", "p_brand"]).l_extendedprice.sum().round(2)
    )
    wins = Counter()
    for okey, g in obr.groupby(level=0):
        brands = [(b, v) for (_, b), v in g.items()]
        for i, (ba, va) in enumerate(brands):
            for bb, vb in brands:
                if ba != bb and va > vb:
                    wins[(ba, bb)] += 1
    nm = Counter()
    for (a, b), w in wins.items():
        nm[(a, b)] = w + wins.get((b, a), 0)
    brands = sorted({a for a, _ in nm} | {b for _, b in nm})
    W = Counter()
    for (a, _), w in wins.items():
        W[a] += w
    p = {b: 1.0 for b in brands}
    for _ in range(5):
        nxt = {}
        for a in brands:
            denom = sum(
                nm[(a, b)] / (p[a] + p[b])
                for b in brands
                if (a, b) in nm
            )
            nxt[a] = W[a] / denom
        mean = sum(nxt.values()) / len(nxt)
        p = {b: v / mean for b, v in nxt.items()}
    rows = {r["brand"]: r for r in QUERIES["bradley_terry_brands"](spark, SF).collect()}
    assert set(rows) == set(brands)
    for b in brands:
        assert rows[b]["n_wins"] == W[b]
        assert abs(rows[b]["bt_strength"] - p[b]) < 1e-4


def test_binseg_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy(dtype=float)
    n = len(y)
    sst = ((y - y.mean()) ** 2).sum()
    best = None
    for k in range(5, n - 4):
        l, r_ = y[:k], y[k:]
        gain = sst - ((l - l.mean()) ** 2).sum() - ((r_ - r_.mean()) ** 2).sum()
        key = (round(gain / sst, 6), -k)
        if best is None or key > best[0]:
            best = (key, k, gain)
    r = QUERIES["binseg_changepoint_daily"](spark, SF).collect()[0]
    assert r["n_days"] == n
    assert r["split_index"] == best[1]
    assert abs(r["gain_fraction"] - best[2] / sst) < 1e-5


def test_fold_auc_matches_sklearn_free_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value", "event_type")
        .toPandas()
    )
    pdf["fold"] = (pdf.event_id * 1000003 + 7) % 999983 * 40503 % 999983 % 5
    pdf["y"] = (pdf.event_type == "purchase").astype(int)
    rows = {r["fold"]: r for r in QUERIES["fold_auc_stability"](spark, SF).collect()}
    aucs = []
    for f, g in pdf.groupby("fold"):
        v = g.value.to_numpy()
        y = g.y.to_numpy()
        # mid-rank AUC
        order = np.argsort(v, kind="mergesort")
        ranks = np.empty(len(v))
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        n_pos, n_neg = y.sum(), len(y) - y.sum()
        auc = (ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2) / (
            n_pos * n_neg
        )
        aucs.append(auc)
        r = rows[f]
        assert r["n_pos"] == n_pos and r["n_neg"] == n_neg
        assert abs(r["fold_auc"] - auc) < 1e-5
    assert abs(rows[0]["mean_auc"] - np.mean(aucs)) < 1e-5
    assert abs(rows[0]["sd_auc"] - np.std(aucs, ddof=1)) < 1e-5


def test_info_gain_panel_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("event_type", F.hour("ts").alias("hr"),
                F.weekday("ts").alias("dw"), "value")
        .toPandas()
    )
    y = (pdf.event_type == "purchase").astype(int)

    def h(p):
        return 0.0 if p <= 0 or p >= 1 else -p * math.log(p) - (1 - p) * math.log(1 - p)

    feats = {
        "hourband": (pdf.hr // 4).astype(str),
        "weekday": pdf.dw.astype(str),
        "valueband": pdf.value.map(
            lambda v: "null" if v != v or v is None
            else ("lo" if v < 50 else "mid" if v < 200 else "hi")
        ),
    }
    rows = {r["feature"]: r for r in QUERIES["info_gain_feature_panel"](spark, SF).collect()}
    hy = h(y.mean())
    for name, f in feats.items():
        n = len(f)
        hyf = sum(
            (len(g) / n) * h(y[g.index].mean())
            for _, g in f.groupby(f)
        )
        hf = -sum(
            (len(g) / n) * math.log(len(g) / n) for _, g in f.groupby(f)
        )
        r = rows[name]
        assert abs(r["h_label"] - hy) < 1e-5
        assert abs(r["info_gain"] - (hy - hyf)) < 1e-5
        assert abs(r["gain_ratio"] - (hy - hyf) / hf) < 1e-5


def test_rmst_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_type")
        .toPandas()
    )
    end = pdf.ts_us.max()
    subs = []
    for _, g in pdf.groupby("user_id"):
        first = g.ts_us.min()
        p = g[g.event_type == "purchase"].ts_us
        if len(p):
            subs.append(((p.min() - first) // 86_400_000_000, 1))
        else:
            subs.append(((end - first) // 86_400_000_000, 0))
    tau = max(t for t, _ in subs) // 2
    days = sorted({t for t, o in subs if o and t <= tau})
    s = 1.0
    area = 0.0
    prev = 0
    for d in days:
        n = sum(1 for t, _ in subs if t >= d)
        de = sum(1 for t, o in subs if t == d and o)
        if de / n >= 1.0:
            continue
        area += s * (d - prev)
        s *= 1 - de / n
        prev = d
    area += s * (tau - prev)
    r = QUERIES["rmst_time_to_purchase"](spark, SF).collect()[0]
    assert r["tau_days"] == tau
    assert r["n_users"] == len(subs)
    assert abs(r["rmst_days"] - area) < 1e-4
    assert abs(r["km_at_tau"] - s) < 1e-5


def test_tost_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .toPandas()
    )
    grp_a = (pdf.user_id * 1000003 + 7) % 999983 * 40503 % 999983 % 2 == 0
    y = (pdf.event_type == "purchase").astype(int)
    xa, na = y[grp_a].sum(), grp_a.sum()
    xb, nb = y[~grp_a].sum(), (~grp_a).sum()
    ra, rb = xa / na, xb / nb
    se = math.sqrt(ra * (1 - ra) / na + rb * (1 - rb) / nb)
    r = QUERIES["tost_equivalence_aa"](spark, SF).collect()[0]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert abs(r["z_lower"] - (ra - rb + 0.01) / se) < 1e-4
    assert abs(r["z_upper"] - (ra - rb - 0.01) / se) < 1e-4
    assert r["equivalent_at_1pct"] == (
        (ra - rb + 0.01) / se > 1.6449 and (ra - rb - 0.01) / se < -1.6449
    )


def test_kupiec_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
    )
    cut = np.quantile(pdf.ts_us, 0.5)
    train = pdf[pdf.ts_us <= cut]
    test = pdf[pdf.ts_us > cut]
    var95 = np.quantile(train.value, 0.95)
    x = int((test.value > var95).sum())
    n = len(test)
    p_hat = x / n
    lr = -2 * (
        (n - x) * math.log(0.95)
        + x * math.log(0.05)
        - (n - x) * math.log(1 - p_hat)
        - x * math.log(p_hat)
    )
    r = QUERIES["kupiec_var_backtest"](spark, SF).collect()[0]
    assert (r["n_test"], r["n_violations"]) == (n, x)
    assert abs(r["kupiec_lr"] - lr) < 1e-4
    assert r["pass_95"] == (lr <= 3.8415)


def test_capture_recapture_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
    )
    cut = np.quantile(pdf.ts_us, 0.5)
    c1 = set(pdf[pdf.ts_us <= cut].user_id)
    c2 = set(pdf[pdf.ts_us > cut].user_id)
    m = len(c1 & c2)
    r = QUERIES["capture_recapture_users"](spark, SF).collect()[0]
    assert (r["n_capture1"], r["n_capture2"], r["n_recaptured"]) == (
        len(c1), len(c2), m,
    )
    assert abs(r["lincoln_petersen"] - len(c1) * len(c2) / m) < 1e-2
    chap = (len(c1) + 1) * (len(c2) + 1) / (m + 1) - 1
    assert abs(r["chapman_estimate"] - chap) < 1e-2


def test_chao1_matches_bruteforce(spark):
    import re

    pdf = load_table(spark, SF, "documents").toPandas()
    freq = Counter()
    for t in pdf.text:
        freq.update(
            w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split()
            if w
        )
    f1 = sum(1 for v in freq.values() if v == 1)
    f2 = sum(1 for v in freq.values() if v == 2)
    v = len(freq)
    n = sum(freq.values())
    r = QUERIES["chao1_vocab_richness"](spark, SF).collect()[0]
    assert (r["n_tokens"], r["vocab_observed"]) == (n, v)
    assert (r["n_hapax"], r["n_dis"]) == (f1, f2)
    assert abs(
        r["chao1_estimate"] - (v + f1 * (f1 - 1) / (2 * (f2 + 1)))
    ) < 1e-2
    assert abs(r["good_turing_unseen_mass"] - f1 / n) < 1e-6


def test_clumpiness_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_id")
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    t0, t1 = pdf.ts_us.min(), pdf.ts_us.max()
    scores = {}
    for uid, g in pdf.groupby("user_id"):
        ts = g.ts_us.tolist()
        gaps = [ts[0] - t0] + [b - a for a, b in zip(ts, ts[1:])] + [t1 - ts[-1]]
        gaps = [g_ for g_ in gaps if g_ > 0]
        if len(gaps) < 4:
            continue
        tot = sum(gaps)
        negent = sum(g_ / tot * math.log(g_ / tot) for g_ in gaps)
        scores[uid] = (len(ts), round(1 + negent / math.log(len(gaps)), 6))
    rows = QUERIES["clumpiness_top_users"](spark, SF).collect()
    expected = sorted(
        ((c_, uid) for uid, (_, c_) in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    got = [(r["clumpiness"], r["user_id"]) for r in rows]
    assert got == expected


def test_taylors_law_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .toPandas()
    )
    n_days = pdf.day.nunique()
    xs, ys = [], []
    for uid, g in pdf.groupby("user_id"):
        counts = g.groupby("day").size()
        s = counts.sum()
        ss = (counts**2).sum()
        mu = s / n_days
        v = (ss - s**2 / n_days) / (n_days - 1)
        if mu > 0 and v > 0:
            xs.append(math.log(mu))
            ys.append(math.log(v))
    x, y = np.array(xs), np.array(ys)
    n = len(x)
    slope = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    r = QUERIES["taylors_law_users"](spark, SF).collect()[0]
    assert r["n_users"] == n
    assert abs(r["taylor_slope"] - slope) < 1e-4
    assert abs(r["r_squared"] - np.corrcoef(x, y)[0, 1] ** 2) < 1e-4


def test_cost_sensitive_threshold_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", (F.col("event_type") == "purchase").alias("y"))
        .toPandas()
    )
    v = pdf.value.to_numpy()
    y = pdf.y.to_numpy()
    rows = {r["decile"]: r for r in QUERIES["cost_sensitive_threshold"](spark, SF).collect()}
    costs = {}
    for d in range(1, 10):
        thr = np.quantile(v, d / 10)
        pred = v > thr
        fp = int((pred & ~y).sum())
        fn = int((~pred & y).sum())
        tp = int((pred & y).sum())
        r = rows[d]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        assert r["utility"] == -(fp + 10 * fn)
        costs[d] = fp + 10 * fn
    ranked = sorted(costs, key=lambda d: (costs[d], d))
    assert rows[ranked[0]]["cost_rank"] == 1


def test_littles_law_matches_bruteforce(spark):
    o = load_table(spark, SF, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("s")
    ).toPandas()
    li = (
        load_table(spark, SF, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("e"))
        .toPandas()
    )
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    m = m[m.e > m.s]
    n = len(m)
    w = (m.e - m.s).map(lambda td: td.days).mean()
    span = (m.e.max() - m.s.min()).days
    # sweep line
    deltas = Counter()
    for _, r_ in m.iterrows():
        deltas[r_.s] += 1
        deltas[r_.e] -= 1
    days = sorted(deltas)
    open_n = 0
    area = tot = 0
    for d, nd in zip(days, days[1:]):
        open_n += deltas[d]
        gap = (nd - d).days
        area += open_n * gap
        tot += gap
    l_meas = area / tot
    r = QUERIES["littles_law_audit"](spark, SF).collect()[0]
    assert r["n_orders"] == n and r["span_days"] == span
    assert abs(r["mean_wait_days"] - w) < 1e-4
    assert abs(r["l_measured"] - l_meas) < 1e-4
    assert abs(r["l_predicted"] - n / span * w) < 1e-4


def test_newsvendor_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("d"))
        .toPandas()
    )
    d = daily.d.to_numpy(dtype=float)
    s_opt = np.quantile(d, 0.9)
    s_mean = d.mean()

    def cost(s):
        return (np.maximum(s - d, 0) + 9 * np.maximum(d - s, 0)).mean()

    r = QUERIES["newsvendor_stock_level"](spark, SF).collect()[0]
    assert r["n_days"] == len(d)
    assert abs(r["stock_optimal_q90"] - s_opt) < 1e-4
    assert abs(r["expected_cost_optimal"] - cost(s_opt)) < 1e-4
    assert abs(r["expected_cost_mean_policy"] - cost(s_mean)) < 1e-4
    # the critical fractile must not cost more than the naive policy
    assert r["expected_cost_optimal"] <= r["expected_cost_mean_policy"] + 1e-9


def test_min_variance_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase",
                         F.coalesce("value", F.lit(0.0))).otherwise(0.0)).alias("r1"),
            F.sum(F.when(F.col("event_type") == "click",
                         F.coalesce("value", F.lit(0.0))).otherwise(0.0)).alias("r2"),
        )
        .toPandas()
    )
    v1 = pdf.r1.var(ddof=1)
    v2 = pdf.r2.var(ddof=1)
    c12 = pdf.r1.cov(pdf.r2)
    w1 = (v2 - c12) / (v1 + v2 - 2 * c12)
    pv = w1**2 * v1 + (1 - w1) ** 2 * v2 + 2 * w1 * (1 - w1) * c12
    r = QUERIES["two_asset_min_variance"](spark, SF).collect()[0]
    assert abs(r["weight_purchase"] - w1) < 1e-4
    assert abs(r["portfolio_sd"] - math.sqrt(pv)) < 1e-2
    # min-variance blend never beats... never loses to the best single asset
    assert r["variance_ratio"] <= 1.0 + 1e-9


def test_greenwood_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_type")
        .toPandas()
    )
    end = pdf.ts_us.max()
    subs = []
    for _, g in pdf.groupby("user_id"):
        first = g.ts_us.min()
        p = g[g.event_type == "purchase"].ts_us
        if len(p):
            subs.append(((p.min() - first) // 86_400_000_000, 1))
        else:
            subs.append(((end - first) // 86_400_000_000, 0))
    days = sorted({t for t, o in subs if o})
    s, gw = 1.0, 0.0
    expected = {}
    for d in days:
        n = sum(1 for t, _ in subs if t >= d)
        de = sum(1 for t, o in subs if t == d and o)
        if de >= n:
            continue
        s *= 1 - de / n
        gw += de / (n * (n - de))
        se = s * math.sqrt(gw)
        expected[d] = (n, de, s, se)
    rows = {r["t_day"]: r for r in QUERIES["greenwood_km_ci"](spark, SF).collect()}
    assert set(rows) == set(expected)
    for d, (n, de, s_, se) in expected.items():
        r = rows[d]
        assert (r["n_risk"], r["d_events"]) == (n, de)
        assert abs(r["km_surv"] - s_) < 1e-5
        assert abs(r["greenwood_se"] - se) < 1e-5
        assert abs(r["ci_lo"] - max(s_ - 1.96 * se, 0)) < 1e-5


def test_effect_sizes_match_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select("value", "event_type")
        .toPandas()
    )
    a = pdf[pdf.event_type == "purchase"].value.to_numpy()
    b = pdf[pdf.event_type == "view"].value.to_numpy()
    n1, n2 = len(a), len(b)
    sp = math.sqrt(
        ((n1 - 1) * a.var(ddof=1) + (n2 - 1) * b.var(ddof=1))
        / (n1 + n2 - 2)
    )
    d = (a.mean() - b.mean()) / sp
    # Cliff's delta brute: P(a>b) - P(a<b)
    gt = sum((a[:, None] > b[None, :]).sum() for _ in [0])
    lt = sum((a[:, None] < b[None, :]).sum() for _ in [0])
    cliffs = (gt - lt) / (n1 * n2)
    r = QUERIES["effect_size_panel"](spark, SF).collect()[0]
    assert (r["n_purchase"], r["n_view"]) == (n1, n2)
    assert abs(r["cohens_d"] - d) < 1e-4
    assert abs(r["hedges_g"] - d * (1 - 3 / (4 * (n1 + n2) - 9))) < 1e-4
    assert abs(r["glass_delta"] - (a.mean() - b.mean()) / b.std(ddof=1)) < 1e-4
    assert abs(r["cliffs_delta"] - cliffs) < 1e-4


def test_seasonal_index_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy()
    ratios = {}
    for i in range(3, len(y) - 3):
        ma = y[i - 3:i + 4].mean()
        wd = daily.day.iloc[i].weekday()
        ratios.setdefault(wd, []).append(y[i] / ma)
    raw = {wd: np.mean(v) for wd, v in ratios.items()}
    tot = sum(raw.values())
    rows = {r["weekday"]: r for r in QUERIES["seasonal_index_weekday"](spark, SF).collect()}
    for wd, v in raw.items():
        assert rows[wd]["n_days"] == len(ratios[wd])
        assert abs(rows[wd]["raw_index"] - v) < 1e-5
        assert abs(rows[wd]["normalized_index"] - v * 7 / tot) < 1e-5


def test_kendalls_w_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_suppkey",
                F.date_trunc("month", "l_shipdate").alias("mon"),
                "l_extendedprice")
        .toPandas()
    )
    m = (
        pdf.groupby(["l_suppkey", "mon"]).l_extendedprice.sum().reset_index()
    )
    months = (
        m.groupby("mon").l_extendedprice.sum().sort_values(ascending=False)
    )
    # deterministic tie-break on month asc among equal totals
    top3 = sorted(months.index[:3].tolist())
    sub = m[m.mon.isin(top3)]
    full = sub.groupby("l_suppkey").size()
    keep = set(full[full == 3].index)
    sub = sub[sub.l_suppkey.isin(keep)]
    rank_sums = Counter()
    for mon, g in sub.groupby("mon"):
        g = g.sort_values(["l_extendedprice", "l_suppkey"],
                          ascending=[False, True])
        for rank, (_, row) in enumerate(g.iterrows(), 1):
            rank_sums[row.l_suppkey] += rank
    n = len(rank_sums)
    vals = np.array(list(rank_sums.values()), dtype=float)
    s = ((vals - vals.mean()) ** 2).sum()
    w = 12 * s / (9 * (n**3 - n))
    r = QUERIES["kendalls_w_supplier_ranks"](spark, SF).collect()[0]
    assert r["n_suppliers"] == n
    assert abs(r["kendalls_w"] - w) < 1e-5


def test_loo_popularity_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .groupBy(F.col("l_orderkey").alias("okey"),
                 F.col("l_partkey").alias("pk"))
        .agg(F.min("l_linenumber").alias("ln"))
        .toPandas()
    )
    held = {}
    for okey, g in pdf.groupby("okey"):
        if len(g) < 2:
            continue
        g = g.sort_values(["ln", "pk"], ascending=[False, False])
        held[okey] = g.pk.iloc[0]
    pop = Counter()
    for _, r_ in pdf.iterrows():
        if held.get(r_.okey) == r_.pk:
            continue
        pop[r_.pk] += 1
    ranked = sorted(pop, key=lambda p: (-pop[p], p))
    top10, top20 = set(ranked[:10]), set(ranked[:20])
    h10 = sum(1 for p in held.values() if p in top10)
    h20 = sum(1 for p in held.values() if p in top20)
    r = QUERIES["loo_popularity_hitrate"](spark, SF).collect()[0]
    assert r["n_eval_orders"] == len(held)
    assert r["hits_at_10"] == h10 and r["hits_at_20"] == h20


def test_abc_xyz_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_partkey",
                F.date_trunc("month", "l_shipdate").alias("mon"),
                "l_quantity",
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .toPandas()
    )
    mq = (
        pdf.groupby(["l_partkey", "mon"])
        .agg(q=("l_quantity", "sum"), mrev=("rev", "sum"))
        .reset_index()
    )
    per = mq.groupby("l_partkey").agg(
        rev=("mrev", "sum"), mu=("q", "mean"), sd=("q", "std")
    ).fillna({"sd": 0.0})
    per = per.sort_values(["rev", "l_partkey"],
                          ascending=[False, True]).reset_index()
    per["cum_share"] = per.rev.cumsum() / per.rev.sum()
    cells = Counter()
    revs = Counter()
    for _, r_ in per.iterrows():
        abc = "A" if r_.cum_share <= 0.8 else "B" if r_.cum_share <= 0.95 else "C"
        cv = r_.sd / r_.mu if r_.mu else float("inf")
        xyz = "X" if cv <= 0.5 else "Y" if cv <= 1.0 else "Z"
        cells[(abc, xyz)] += 1
        revs[(abc, xyz)] += r_.rev
    rows = {(r["abc"], r["xyz"]): r for r in QUERIES["abc_xyz_segmentation"](spark, SF).collect()}
    assert set(rows) == set(cells)
    for k in cells:
        assert rows[k]["n_parts"] == cells[k]
        assert abs(rows[k]["revenue"] - revs[k]) < 1.0


def test_discount_curve_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_discount", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    pdf["dp"] = (pdf.l_discount * 100).round().astype(int)
    rows = {r["disc_pct"]: r for r in QUERIES["discount_response_curve"](spark, SF).collect()}
    base = pdf[pdf.dp == 0].l_quantity.mean()
    for dp, g in pdf.groupby("dp"):
        r = rows[dp]
        assert r["n_lines"] == len(g)
        assert abs(r["avg_quantity"] - g.l_quantity.mean()) < 1e-4
        assert abs(r["qty_lift_vs_no_discount"] - g.l_quantity.mean() / base) < 1e-4


def test_anderson_darling_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select("value", "event_type")
        .toPandas()
    )
    vals = sorted(pdf.value.unique())
    m = int((pdf.event_type == "purchase").sum())
    nn = len(pdf)
    by_val = pdf.groupby("value").event_type.agg(
        ca=lambda s: (s == "purchase").sum(), cnt="size"
    )
    mj = bj = 0
    ad = 0.0
    for v in vals:
        ca, cnt = by_val.loc[v, "ca"], by_val.loc[v, "cnt"]
        mj += ca
        bj += cnt
        if bj < nn:
            ad += cnt * (nn * mj - m * bj) ** 2 / (
                m * (nn - m) * bj * (nn - bj)
            )
    r = QUERIES["anderson_darling_2sample"](spark, SF).collect()[0]
    assert (r["n_purchase"], r["n_view"]) == (m, nn - m)
    assert r["n_distinct"] == len(vals)
    assert abs(r["ad_stat"] - ad) < 1e-4


def test_mcnemar_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("value", "event_type", F.hour("ts").alias("hr"))
        .toPandas()
    )
    y_all = (pdf.event_type == "purchase").astype(int)
    g = y_all.mean()
    band_rate = y_all.groupby(pdf.hr // 4).mean()
    sub = pdf[pdf.value.notna()].copy()
    mv = np.quantile(pdf[pdf.value.notna()].value, 0.5)
    y = (sub.event_type == "purchase").astype(int).to_numpy()
    pa = (sub.value > mv).astype(int).to_numpy()
    pb = (sub.hr // 4).map(lambda hb: int(band_rate[hb] > g)).to_numpy()
    a_only = int(((pa == y) & (pb != y)).sum())
    b_only = int(((pa != y) & (pb == y)).sum())
    chi = (abs(a_only - b_only) - 1) ** 2 / (a_only + b_only)
    r = QUERIES["mcnemar_paired_classifiers"](spark, SF).collect()[0]
    assert r["a_right_b_wrong"] == a_only
    assert r["b_right_a_wrong"] == b_only
    assert abs(r["mcnemar_chi2_cc"] - chi) < 1e-4


def test_simpsons_detector_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select((F.hour("ts") / F.lit(4)).cast("long").alias("hb"),
                (F.weekday("ts") >= 5).alias("wkd"),
                (F.col("event_type") == "purchase").alias("y"))
        .toPandas()
    )
    agg = pdf[pdf.wkd].y.mean() - pdf[~pdf.wkd].y.mean()
    rows = {r["hb"]: r for r in QUERIES["simpsons_paradox_detector"](spark, SF).collect()}
    for hb, g in pdf.groupby("hb"):
        d = g[g.wkd].y.mean() - g[~g.wkd].y.mean()
        r = rows[hb]
        assert abs(r["stratum_diff"] - d) < 1e-5
        assert abs(r["aggregate_diff"] - agg) < 1e-5
        assert r["sign_reversal"] == (np.sign(d) != np.sign(agg))


def test_burstiness_matches_bruteforce(spark):
    import re

    pdf = load_table(spark, SF, "documents").toPandas()
    cf = Counter()
    df = Counter()
    for _, row in pdf.iterrows():
        ws = [w for w in re.sub(r"[^a-z0-9]+", " ", row.text.lower()).split() if w]
        cf.update(ws)
        df.update(set(ws))
    d = len(pdf)
    top50 = sorted(cf, key=lambda w: (-cf[w], w))[:50]
    scored = sorted(
        (
            (round(d * (1 - math.exp(-cf[w] / d)) / df[w], 6), w)
            for w in top50
        ),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    rows = QUERIES["term_burstiness_church_gale"](spark, SF).collect()
    got = [(r["burstiness_ratio"], r["term"]) for r in rows]
    assert got == scored
    for r in rows:
        assert r["collection_freq"] == cf[r["term"]]
        assert r["doc_freq"] == df[r["term"]]


def test_theil_decomposition_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select("event_type", "value")
        .toPandas()
    )
    x = pdf.value.to_numpy()
    mu = x.mean()
    t_direct = float(np.mean(x / mu * np.log(x / mu)))
    rows = QUERIES["theil_index_decomposition"](spark, SF).collect()
    r0 = rows[0]
    # decomposition reproduces the direct total Theil-T
    assert abs(r0["theil_total"] - t_direct) < 1e-4
    # columns are individually rounded to 6 dp, so the identity holds
    # to one rounding unit
    assert abs(
        r0["theil_between"] + r0["theil_within_total"] - r0["theil_total"]
    ) < 2e-6
    for r in rows:
        g = pdf[pdf.event_type == r["event_type"]].value.to_numpy()
        mug = g.mean()
        tw = float(np.mean(g / mug * np.log(g / mug)))
        assert abs(r["theil_within_group"] - tw) < 1e-5
        assert abs(r["value_share"] - g.sum() / x.sum()) < 1e-5


def test_user_profile_kl_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .toPandas()
    )
    types = sorted(pdf.event_type.unique())
    k = len(types)
    pop = pdf.event_type.value_counts(normalize=True)
    scores = {}
    for uid, g in pdf.groupby("user_id"):
        nu = len(g)
        if nu < 30:
            continue
        cnt = Counter(g.event_type)
        kl = sum(
            ((cnt.get(t, 0) + 0.5) / (nu + 0.5 * k))
            * math.log(
                ((cnt.get(t, 0) + 0.5) / (nu + 0.5 * k)) / pop[t]
            )
            for t in types
        )
        scores[uid] = (round(kl, 6), nu)
    expected = sorted(
        ((kl, uid) for uid, (kl, _) in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    rows = QUERIES["user_profile_kl_outliers"](spark, SF).collect()
    got = [(r["kl_from_population"], r["user_id"]) for r in rows]
    assert got == expected
    for r in rows:
        assert r["n_events"] == scores[r["user_id"]][1]


def test_mde_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .toPandas()
    )
    grp = (pdf.user_id * 1000003 + 7) % 999983 * 40503 % 999983 % 2 == 0
    p = (pdf.event_type == "purchase").mean()
    n1, n2 = int(grp.sum()), int((~grp).sum())
    zsum = 1.96 + 0.8416
    mde = zsum * math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
    r = QUERIES["mde_power_analysis"](spark, SF).collect()[0]
    assert (r["n_a"], r["n_b"]) == (n1, n2)
    assert abs(r["mde_absolute"] - mde) < 1e-5
    assert r["n_per_arm_for_1pp"] == math.ceil(
        2 * zsum**2 * p * (1 - p) / 0.01**2
    )


def test_group_sequential_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "event_type")
        .toPandas()
    )
    pdf["grp"] = (pdf.user_id * 1000003 + 7) % 999983 * 40503 % 999983 % 2 == 0
    pdf["y"] = (pdf.event_type == "purchase").astype(int)
    t0, t1 = pdf.ts_us.min(), pdf.ts_us.max()
    bounds = {1: 4.5617, 2: 3.2256, 3: 2.6337, 4: 2.2809, 5: 2.0401}
    rows = {r["look"]: r for r in QUERIES["group_sequential_looks"](spark, SF).collect()}
    for k in range(1, 6):
        sub = pdf[pdf.ts_us <= t0 + (t1 - t0) * k / 5.0]
        a, b = sub[sub.grp], sub[~sub.grp]
        pp = sub.y.mean()
        z = (a.y.mean() - b.y.mean()) / math.sqrt(
            pp * (1 - pp) * (1 / len(a) + 1 / len(b))
        )
        r = rows[k]
        assert r["n_cumulative"] == len(sub)
        assert abs(r["z_stat"] - z) < 1e-5
        assert r["crosses_boundary"] == (abs(z) > bounds[k])


def test_attribute_assortativity_matches_bruteforce(spark):
    adj_edges = []
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    part = load_table(spark, SF, "part").select("p_partkey", "p_brand").toPandas()
    brand = dict(zip(part.p_partkey, part.p_brand))
    by_order = {}
    for o, p in zip(pdf.l_orderkey, pdf.l_partkey):
        by_order.setdefault(o, set()).add(p)
    w = Counter()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            w[(a, b)] += 1
    edges = [e for e, c_ in w.items() if c_ >= 2]
    mix = Counter()
    for a, b in edges:
        mix[(brand[a], brand[b])] += 1
        mix[(brand[b], brand[a])] += 1
    mm = sum(mix.values())
    tr_e = sum(v for (i, j), v in mix.items() if i == j) / mm
    marg = Counter()
    for (i, _), v in mix.items():
        marg[i] += v
    sum_ab = sum((v / mm) ** 2 for v in marg.values())
    r_exp = (tr_e - sum_ab) / (1 - sum_ab)
    r = QUERIES["attribute_assortativity_brands"](spark, SF).collect()[0]
    assert r["n_edges"] == len(edges)
    assert abs(r["same_brand_edge_share"] - tr_e) < 1e-5
    assert abs(r["assortativity_r"] - r_exp) < 1e-5


def test_data_temperature_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_partkey", F.to_date("l_shipdate").alias("d"),
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .toPandas()
    )
    mend = pdf.d.max()
    per = pdf.groupby("l_partkey").agg(
        last_d=("d", "max"), rev=("rev", "sum"), n=("rev", "size")
    )
    tiers = Counter()
    revs = Counter()
    for _, r_ in per.iterrows():
        age = (mend - r_.last_d).days
        t = "hot" if age <= 90 else "warm" if age <= 365 else "cold"
        tiers[t] += 1
        revs[t] += r_.rev
    rows = {r["tier"]: r for r in QUERIES["data_temperature_tiering"](spark, SF).collect()}
    assert set(rows) == set(tiers)
    for t in tiers:
        assert rows[t]["n_parts"] == tiers[t]
        assert abs(rows[t]["revenue"] - revs[t]) < 1.0


def test_mmd_energy_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select("event_id", "event_type", "value")
        .toPandas()
    )
    pdf["h"] = (pdf.event_id * 1000003 + 7) % 999983 * 40503 % 999983
    samp = {
        t: g.sort_values(["h", "event_id"]).value.to_numpy()[:200]
        for t, g in pdf.groupby("event_type")
    }
    x, y = samp["purchase"], samp["view"]
    pool = np.concatenate([x, y])
    hh = np.quantile(np.abs(pool[:, None] - pool[None, :]).ravel(), 0.5)

    def k(a, b):
        return np.exp(-((a[:, None] - b[None, :]) ** 2) / (2 * hh * hh)).mean()

    mmd2 = k(x, x) + k(y, y) - 2 * k(x, y)
    e = lambda a, b: np.abs(a[:, None] - b[None, :]).mean()
    energy = 2 * e(x, y) - e(x, x) - e(y, y)
    r = QUERIES["mmd_energy_two_sample"](spark, SF).collect()[0]
    assert abs(r["rbf_bandwidth"] - hh) < 1e-4
    assert abs(r["mmd2"] - mmd2) < 1e-4
    assert abs(r["energy_distance"] - energy) < 1e-3


def test_granger_matches_numpy(spark):
    daily = (
        load_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("p"),
            F.sum((F.col("event_type") == "click").cast("int")).alias("cc"),
        )
        .orderBy("day")
        .toPandas()
    )
    p = daily.p.to_numpy(float)
    cl = daily.cc.to_numpy(float)
    y, pl, clag = p[1:], p[:-1], cl[:-1]
    n = len(y)
    Xf = np.column_stack([np.ones(n), pl, clag])
    Xr = np.column_stack([np.ones(n), pl])
    bf, *_ = np.linalg.lstsq(Xf, y, rcond=None)
    br, *_ = np.linalg.lstsq(Xr, y, rcond=None)
    sse_f = ((y - Xf @ bf) ** 2).sum()
    sse_r = ((y - Xr @ br) ** 2).sum()
    fstat = (sse_r - sse_f) / (sse_f / (n - 3))
    r = QUERIES["granger_click_to_purchase"](spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["click_lag_coef"] - bf[2]) < 1e-4
    assert abs(r["granger_f"] - fstat) < 1e-3
    assert abs(r["partial_r2"] - (1 - sse_f / sse_r)) < 1e-5


def test_survivorship_audit_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"),
                "value")
        .toPandas()
    )
    t1 = pdf.ts_us.max()
    survivors = set(
        pdf[pdf.ts_us > t1 - 7 * 86_400_000_000].user_id
    )
    vv = pdf[pdf.value.notna()]
    per = vv.groupby("user_id").value.agg(["mean", "size"])
    all_mean = per["mean"].mean()
    surv = per[per.index.isin(survivors)]
    r = QUERIES["survivorship_bias_audit"](spark, SF).collect()[0]
    assert r["n_users"] == len(per)
    assert r["n_survivors"] == len(surv)
    assert abs(r["all_users_mean"] - all_mean) < 1e-4
    assert abs(r["survivors_mean"] - surv["mean"].mean()) < 1e-4


def test_base_rate_panel_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("value", "event_type")
        .toPandas()
    )
    vv = pdf[pdf.value.notna()]
    t = np.quantile(vv.value, 0.9)
    pos = vv.event_type == "purchase"
    alert = vv.value > t
    sens = (alert & pos).sum() / pos.sum()
    spec = (~alert & ~pos).sum() / (~pos).sum()
    prev = pos.mean()
    ppv = sens * prev / (sens * prev + (1 - spec) * (1 - prev))
    r = QUERIES["base_rate_ppv_panel"](spark, SF).collect()[0]
    assert abs(r["sensitivity"] - sens) < 1e-5
    assert abs(r["specificity"] - spec) < 1e-5
    assert abs(r["ppv_at_prevalence"] - ppv) < 1e-5


def test_ruzicka_matches_bruteforce(spark):
    import re

    pdf = load_table(spark, SF, "documents").toPandas()
    tf = {}
    for _, row in pdf.iterrows():
        ws = [w for w in re.sub(r"[^a-z0-9]+", " ", row.text.lower()).split() if w]
        d = tf.setdefault(row.source, Counter())
        d.update(ws)
    rel = {
        s: {w: n / sum(cnt.values()) for w, n in cnt.items()}
        for s, cnt in tf.items()
    }
    rows = {(r["src_a"], r["src_b"]): r for r in QUERIES["ruzicka_source_similarity"](spark, SF).collect()}
    srcs = sorted(rel)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            pa, pb = rel[sa], rel[sb]
            union = set(pa) | set(pb)
            num = sum(min(pa.get(w, 0), pb.get(w, 0)) for w in union)
            den = sum(max(pa.get(w, 0), pb.get(w, 0)) for w in union)
            r = rows[(sa, sb)]
            assert abs(r["ruzicka_similarity"] - num / den) < 1e-5
            assert r["shared_vocab"] == len(set(pa) & set(pb))


def test_kpss_matches_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy(dtype=float)
    n = len(y)
    e = y - y.mean()
    s = np.cumsum(e)
    g0 = (e @ e) / n
    s2 = g0
    for k in range(1, 8):
        gk = (e[k:] @ e[:-k]) / n
        s2 += 2 * (1 - k / 8.0) * gk
    eta = (s @ s) / (n * n) / s2
    r = QUERIES["kpss_stationarity_daily"](spark, SF).collect()[0]
    assert r["n_days"] == n
    assert abs(r["kpss_eta"] - eta) < 1e-4
    assert r["reject_stationarity_95"] == (eta > 0.463)
    mant = s2 / 10 ** math.floor(math.log10(s2))
    assert abs(r["lrv_mantissa"] - mant) < 1e-3


def test_retention_half_life_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .toPandas()
    )
    t0 = pdf.groupby("user_id").d.min()
    n0 = len(t0)
    weeks = Counter()
    pairs = set()
    for uid, d in zip(pdf.user_id, pdf.d):
        wk = (d - t0[uid]).days // 7
        if wk >= 1 and (uid, wk) not in pairs:
            pairs.add((uid, wk))
            weeks[wk] += 1
    xs, ys = [], []
    for wk, nw in sorted(weeks.items()):
        ret = nw / n0
        if ret > 0:
            xs.append(wk)
            ys.append(math.log(ret))
    x, yv = np.array(xs, float), np.array(ys)
    k = len(x)
    slope = (k * (x * yv).sum() - x.sum() * yv.sum()) / (
        k * (x * x).sum() - x.sum() ** 2
    )
    r = QUERIES["retention_half_life"](spark, SF).collect()[0]
    assert r["n_weeks"] == k
    assert abs(r["log_decay_per_week"] - slope) < 1e-4
    if slope == 0:
        # sf0.001 is saturated (every user active every week): the
        # half-life is undefined and the query yields NULL
        assert r["half_life_weeks"] is None
    else:
        assert abs(r["half_life_weeks"] - (-math.log(2) / slope)) < 1e-2


def test_icc_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "value")
        .toPandas()
    )
    groups = [g.value.to_numpy() for _, g in pdf.groupby("user_id")]
    nn = sum(len(g) for g in groups)
    k = len(groups)
    gm = pdf.value.mean()
    ssb = sum(len(g) * (g.mean() - gm) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    msb, msw = ssb / (k - 1), ssw / (nn - k)
    k_bar = (nn - sum(len(g) ** 2 for g in groups) / nn) / (k - 1)
    icc = (msb - msw) / (msb + (k_bar - 1) * msw)
    r = QUERIES["icc_values_by_user"](spark, SF).collect()[0]
    assert (r["n_obs"], r["n_users"]) == (nn, k)
    assert abs(r["icc1"] - icc) < 1e-5
    assert abs(r["design_effect"] - (1 + (k_bar - 1) * icc)) < 1e-4


def test_rayleigh_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("event_type",
                F.hour("ts").alias("h"), F.minute("ts").alias("m"),
                F.second("ts").alias("s"))
        .toPandas()
    )
    th = 2 * np.pi * (pdf.h * 3600 + pdf.m * 60 + pdf.s) / 86400.0
    rows = {r["event_type"]: r for r in QUERIES["rayleigh_circular_hours"](spark, SF).collect()}
    for t, g in th.groupby(pdf.event_type):
        cbar, sbar = np.cos(g).mean(), np.sin(g).mean()
        rr = math.hypot(cbar, sbar)
        mu = math.atan2(sbar, cbar)
        if mu < 0:
            mu += 2 * np.pi
        r = rows[t]
        assert r["n"] == len(g)
        assert abs(r["mean_hour"] - mu * 24 / (2 * np.pi)) < 1e-4
        assert abs(r["resultant_length"] - rr) < 1e-5
        assert abs(r["rayleigh_z"] - len(g) * rr * rr) < 1e-4


def test_circular_linear_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", F.hour("ts").alias("h"), F.minute("ts").alias("m"),
                F.second("ts").alias("s"))
        .toPandas()
    )
    x = pdf.value.to_numpy()
    th = 2 * np.pi * (pdf.h * 3600 + pdf.m * 60 + pdf.s).to_numpy() / 86400.0
    rxc = np.corrcoef(x, np.cos(th))[0, 1]
    rxs = np.corrcoef(x, np.sin(th))[0, 1]
    rcs = np.corrcoef(np.cos(th), np.sin(th))[0, 1]
    r2 = (rxc**2 + rxs**2 - 2 * rxc * rxs * rcs) / (1 - rcs**2)
    r = QUERIES["circular_linear_correlation"](spark, SF).collect()[0]
    assert r["n"] == len(x)
    assert abs(r["circular_linear_r"] - math.sqrt(r2)) < 1e-5
    assert abs(r["test_statistic_chi2_2df"] - len(x) * r2) < 1e-3


def test_spectral_entropy_matches_numpy(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy(float)
    e = y - y.mean()
    n = len(e)
    t = np.arange(n)
    ps = []
    for k in range(1, 121):
        cpart = (e * np.cos(2 * np.pi * k * t / n)).sum()
        spart = (e * np.sin(2 * np.pi * k * t / n)).sum()
        ps.append(cpart**2 + spart**2)
    q = np.array(ps)
    q = q / q.sum()
    q = q[q > 0]
    ent = -(q * np.log(q)).sum() / math.log(len(q))
    r = QUERIES["spectral_entropy_daily"](spark, SF).collect()[0]
    assert r["n_freqs"] == len(q)
    assert abs(r["spectral_entropy"] - ent) < 1e-4
    assert abs(r["peak_power_share"] - q.max()) < 1e-5


def test_records_and_turning_points_match_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily.y.to_numpy()
    n = len(y)
    run = -np.inf
    recs = 0
    last = None
    for i, v in enumerate(y, 1):
        if v > run:
            recs += 1
            last = i
            run = v
    h_n = sum(1 / k for k in range(1, n + 1))
    r = QUERIES["record_breaking_days"](spark, SF).collect()[0]
    assert (r["n_days"], r["n_records"], r["last_record_index"]) == (
        n, recs, last,
    )
    assert abs(r["expected_records_iid"] - h_n) < 1e-4
    tp = sum(
        1
        for i in range(1, n - 1)
        if (y[i] > y[i - 1] and y[i] > y[i + 1])
        or (y[i] < y[i - 1] and y[i] < y[i + 1])
    )
    z = (tp - 2 * (n - 2) / 3) / math.sqrt((16 * n - 29) / 90)
    t = QUERIES["turning_points_test"](spark, SF).collect()[0]
    assert t["n_turning_points"] == tp
    assert abs(t["z_stat"] - z) < 1e-4


def test_wilson_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select((F.hour("ts") / F.lit(4)).cast("long").alias("hb"),
                (F.col("event_type") == "purchase").alias("y"))
        .toPandas()
    )
    rows = {r["hb"]: r for r in QUERIES["wilson_rate_intervals"](spark, SF).collect()}
    z = 1.96
    for hb, g in pdf.groupby("hb"):
        n, x = len(g), int(g.y.sum())
        p = x / n
        half = z * math.sqrt(p * (1 - p) / n + z**2 / (4 * n * n))
        lo = (p + z**2 / (2 * n) - half) / (1 + z**2 / n)
        hi = (p + z**2 / (2 * n) + half) / (1 + z**2 / n)
        r = rows[hb]
        assert (r["n"], r["n_purchases"]) == (n, x)
        assert abs(r["wilson_lo"] - lo) < 1e-5
        assert abs(r["wilson_hi"] - hi) < 1e-5
        assert 0 <= r["wilson_lo"] <= r["rate"] <= r["wilson_hi"] <= 1


def test_median_ci_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    rows = {r["event_type"]: r for r in QUERIES["median_order_statistic_ci"](spark, SF).collect()}
    for t, g in pdf.groupby("event_type"):
        v = np.sort(g.value.to_numpy())
        n = len(v)
        k_lo = math.floor(n / 2 - 1.96 * math.sqrt(n) / 2)
        k_hi = math.ceil(n / 2 + 1.96 * math.sqrt(n) / 2)
        r = rows[t]
        assert r["n"] == n
        assert abs(r["ci_lo"] - v[k_lo - 1]) < 1e-6
        assert abs(r["ci_hi"] - v[k_hi - 1]) < 1e-6
        assert r["ci_lo"] <= r["median_value"] <= r["ci_hi"]


def test_step_hazard_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "event_type",
                F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    sessions = []
    for _, g in pdf.groupby("user_id"):
        prev = None
        for _, e in g.iterrows():
            if prev is None or e.ts_us - prev > 1_800_000_000:
                sessions.append([])
            sessions[-1].append(e.event_type)
            prev = e.ts_us
    rows = {r["step"]: r for r in QUERIES["step_hazard_first_error"](spark, SF).collect()}
    for k in range(1, 11):
        at_risk = d = 0
        for s in sessions:
            fe = next((i + 1 for i, t in enumerate(s) if t == "error"), None)
            if len(s) >= k and (fe is None or fe >= k):
                at_risk += 1
                if fe == k:
                    d += 1
        if at_risk == 0:
            assert k not in rows
            continue
        r = rows[k]
        assert (r["n_at_risk"], r["n_first_errors"]) == (at_risk, d)


def test_negbin_fit_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    m, v = pdf.n.mean(), pdf.n.var(ddof=1)
    r = QUERIES["negbin_fit_user_activity"](spark, SF).collect()[0]
    assert r["n_users"] == len(pdf)
    assert abs(r["dispersion_index"] - v / m) < 1e-4
    if v > m:
        assert abs(r["nb_r"] - m * m / (v - m)) < 1e-3
        assert abs(r["nb_p"] - m / v) < 1e-5
    else:
        assert r["nb_r"] is None


def test_price_dispersion_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select("l_partkey",
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"))
        .toPandas()
    )
    per = pdf.groupby("l_partkey").up.agg(["count", "mean", "std"])
    per = per[per["count"] >= 5]
    per["cv"] = (per["std"] / per["mean"]).round(6)
    top = per.sort_values(["cv"], ascending=False)
    expected = sorted(
        ((row.cv, pk) for pk, row in per.iterrows()),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    rows = QUERIES["price_dispersion_topk"](spark, SF).collect()
    got = [(r["cv"], r["p_partkey"]) for r in rows]
    assert got == expected


def test_concentration_ratios_match_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
        .toPandas()
        .sort_values(["rev", "o_custkey"], ascending=[False, True])
    )
    trev = pdf.rev.sum()
    cr4 = pdf.rev.iloc[:4].sum() / trev
    cr8 = pdf.rev.iloc[:8].sum() / trev
    r = QUERIES["concentration_ratios"](spark, SF).collect()[0]
    assert r["n_customers"] == len(pdf)
    assert abs(r["cr4"] - cr4) < 1e-5
    assert abs(r["cr8"] - cr8) < 1e-5


def test_dwell_matrix_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "event_type",
                F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    cells = {}
    for _, g in pdf.groupby("user_id"):
        prev_t = prev_ts = None
        for _, e in g.iterrows():
            if prev_t is not None:
                d = (e.ts_us - prev_ts) / 1e6
                if d <= 1800:
                    cells.setdefault((prev_t, e.event_type), []).append(d)
            prev_t, prev_ts = e.event_type, e.ts_us
    rows = {(r["prev_type"], r["cur_type"]): r for r in QUERIES["dwell_time_transition_matrix"](spark, SF).collect()}
    assert set(rows) == set(cells)
    for k, v in cells.items():
        r = rows[k]
        assert r["n"] == len(v)
        assert abs(r["p50_s"] - np.quantile(v, 0.5)) < 1e-4
        assert abs(r["mean_s"] - np.mean(v)) < 1e-4


def test_ccf_matches_numpy(spark):
    daily = (
        load_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("int")).alias("c"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("p"),
        )
        .orderBy("day")
        .toPandas()
    )
    cv = daily.c.to_numpy(float)
    pv = daily.p.to_numpy(float)
    n = len(cv)
    mc, mp = cv.mean(), pv.mean()
    sc, sp = cv.std(), pv.std()
    rows = {r["lag_days"]: r for r in QUERIES["ccf_click_purchase"](spark, SF).collect()}
    for lag in range(-7, 8):
        if lag >= 0:
            num = ((cv[: n - lag] - mc) * (pv[lag:] - mp)).sum()
        else:
            num = ((cv[-lag:] - mc) * (pv[: n + lag] - mp)).sum()
        r = rows[lag]
        assert abs(r["ccf"] - num / (n * sc * sp)) < 1e-5


def test_calendar_anomalies_match_bruteforce(spark):
    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"),
                 F.weekday("o_orderdate").alias("wd"))
        .agg(F.sum("o_totalprice").alias("y"))
        .toPandas()
    )
    import datetime

    zs = []
    for wd, g in daily.groupby("wd"):
        med = np.quantile(g.y, 0.5)
        mad = np.quantile(np.abs(g.y - med), 0.5)
        for _, r_ in g.iterrows():
            z = (r_.y - med) / (1.4826 * mad)
            zs.append((round(z, 6), (r_.day - datetime.date(1970, 1, 1)).days))
    expected = sorted(zs, key=lambda x: (-abs(x[0]), x[1]))[:10]
    rows = QUERIES["calendar_adjusted_anomalies"](spark, SF).collect()
    got = [(r["robust_z"], r["epoch_day"]) for r in rows]
    assert got == expected


def test_churn_sensitivity_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.max(F.expr("ts_ns div 1000")).alias("last_us"))
        .toPandas()
    )
    t1 = (
        load_table(spark, SF, "events")
        .agg(F.max(F.expr("ts_ns div 1000")))
        .collect()[0][0]
    )
    rows = {r["inactivity_days"]: r for r in QUERIES["churn_definition_sensitivity"](spark, SF).collect()}
    for d in (7, 14, 21):
        churned = int((t1 - pdf.last_us > d * 86_400_000_000).sum())
        r = rows[d]
        assert r["n_users"] == len(pdf)
        assert r["n_churned"] == churned


def test_cvar_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    rows = {r["event_type"]: r for r in QUERIES["expected_shortfall_cvar"](spark, SF).collect()}
    for t, g in pdf.groupby("event_type"):
        v = g.value.to_numpy()
        var95 = np.quantile(v, 0.95)
        es95 = v[v > var95].mean()
        r = rows[t]
        assert r["n"] == len(v)
        assert abs(r["var_95"] - var95) < 1e-4
        assert abs(r["es_95"] - es95) < 1e-4
        assert r["es_95"] >= r["var_95"]


def test_supplier_diversity_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("ns"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .toPandas()
    )
    q1, q2, q3 = np.quantile(pdf.ns, [0.25, 0.5, 0.75])
    def tier(ns):
        return ("q1_most_concentrated" if ns <= q1 else
                "q2" if ns <= q2 else "q3" if ns <= q3
                else "q4_most_diversified")
    pdf["tier"] = pdf.ns.map(tier)
    rows = {r["tier"]: r for r in QUERIES["supplier_diversity_risk_audit"](spark, SF).collect()}
    for t, g in pdf.groupby("tier"):
        r = rows[t]
        assert r["n_parts"] == len(g)
        assert (r["min_suppliers"], r["max_suppliers"]) == (
            g.ns.min(), g.ns.max(),
        )
        assert abs(r["revenue"] - g.rev.sum()) < 1.0


def test_dose_response_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "event_type",
                F.expr("ts_ns div 1000").alias("ts_us"))
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    buckets = Counter()
    convs = Counter()
    for _, g in pdf.groupby("user_id"):
        prev = None
        cur = []
        sessions = []
        for _, e in g.iterrows():
            if prev is None or e.ts_us - prev > 1_800_000_000:
                if cur:
                    sessions.append(cur)
                cur = []
            cur.append(e.event_type)
            prev = e.ts_us
        if cur:
            sessions.append(cur)
        for s in sessions:
            n = len(s)
            b = "1" if n == 1 else "2" if n == 2 else "3-4" if n <= 4 else "5+"
            buckets[b] += 1
            convs[b] += "purchase" in s
    rows = {r["len_bucket"]: r for r in QUERIES["dose_response_session_length"](spark, SF).collect()}
    assert set(rows) == {b for b in buckets}
    for b in buckets:
        r = rows[b]
        assert r["n_sessions"] == buckets[b]
        assert abs(r["conversion_rate"] - convs[b] / buckets[b]) < 1e-5


def test_event_study_matches_bruteforce(spark):
    import calendar
    import datetime

    daily = (
        load_table(spark, SF, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
        .toPandas()
    )
    mu = daily.y.mean()
    cells = {}
    for _, r_ in daily.iterrows():
        d = r_.day
        last = datetime.date(
            d.year, d.month, calendar.monthrange(d.year, d.month)[1]
        )
        pm_y, pm_m = (d.year, d.month - 1) if d.month > 1 else (d.year - 1, 12)
        prev_last = datetime.date(
            pm_y, pm_m, calendar.monthrange(pm_y, pm_m)[1]
        )
        if (d - last).days >= -3:
            off = (d - last).days
        elif (d - prev_last).days <= 3:
            off = (d - prev_last).days
        else:
            continue
        cells.setdefault(off, []).append(r_.y)
    rows = {r["day_offset"]: r for r in QUERIES["month_end_event_study"](spark, SF).collect()}
    assert set(rows) == set(cells)
    for off, ys in cells.items():
        r = rows[off]
        assert r["n_days"] == len(ys)
        assert abs(r["abnormal_return"] - (np.mean(ys) / mu - 1)) < 1e-5


# ---------------------------------------------------------------------------
# Wave A (round 7): CvM two-sample, Gumbel block maxima, Cochran's Q,
# Jonckheere–Terpstra, Törnqvist index — brute-force numpy/pandas twins.
# ---------------------------------------------------------------------------


def _vp_values(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
        .select("event_type", "value")
        .toPandas()
    )
    a = np.sort(pdf[pdf.event_type == "view"].value.to_numpy())
    b = np.sort(pdf[pdf.event_type == "purchase"].value.to_numpy())
    return a, b


def test_cvm_matches_bruteforce(spark):
    a, b = _vp_values(spark)
    ks = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, ks, side="right") / len(a)
    fb = np.searchsorted(b, ks, side="right") / len(b)
    w = np.array(
        [np.sum(a == k) + np.sum(b == k) for k in ks], dtype=float
    )
    t = len(a) * len(b) / (len(a) + len(b)) ** 2 * np.sum((fa - fb) ** 2 * w)
    r = QUERIES["cramer_von_mises_2sample"](spark, SF).collect()[0]
    assert r["n_a"] == len(a) and r["n_b"] == len(b)
    assert abs(r["cvm_t"] - t) < 1e-4


def test_gumbel_fit_matches_moments(spark):
    pdf = load_table(spark, SF, "orders").select(
        F.to_date("o_orderdate").alias("d"), "o_totalprice"
    ).toPandas()
    mx = pdf.groupby("d").o_totalprice.max().to_numpy()
    s = float(np.sqrt(np.mean((mx - mx.mean()) ** 2)))
    beta = s * math.sqrt(6) / math.pi
    mu = float(mx.mean()) - 0.5772156649015329 * beta
    r = QUERIES["gumbel_block_maxima_fit"](spark, SF).collect()[0]
    assert r["n_blocks"] == len(mx)
    assert abs(r["mu"] - mu) < 1e-2
    assert abs(r["beta"] - beta) < 1e-2
    p = 1 - math.exp(-math.exp(-(mx.max() - mu) / beta))
    assert abs(r["p_exceed_max"] - p) < 1e-5
    # moment identity: a uniform-ish spread still yields beta > 0
    assert r["beta"] > 0


def test_cochran_q_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value", F.hour("ts").alias("h"))
        .toPandas()
    )
    y = (pdf.event_type == "purchase").to_numpy().astype(int)
    x = np.stack(
        [
            ((pdf.value > 500).to_numpy().astype(int) == y).astype(int),
            ((pdf.h >= 12).to_numpy().astype(int) == y).astype(int),
            ((pdf.event_id % 2 == 0).to_numpy().astype(int) == y).astype(int),
        ],
        axis=1,
    )
    g = x.sum(axis=0)
    l = x.sum(axis=1)
    q = 2.0 * (3 * np.sum(g**2) - g.sum() ** 2) / (3 * l.sum() - np.sum(l**2))
    r = QUERIES["cochran_q_classifiers"](spark, SF).collect()[0]
    assert r["n_rows"] == len(pdf)
    assert abs(r["q_stat"] - q) < 1e-4
    assert r["reject_h0"] == (q > 5.991464547107979)


def test_jonckheere_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", (F.hour("ts") / 6).cast("int").alias("g"))
        .toPandas()
    )
    groups = [pdf[pdf.g == i].value.to_numpy() for i in range(4)]
    j = 0.0
    for gi in range(4):
        for hi in range(gi + 1, 4):
            a, b = groups[gi], groups[hi]
            j += np.sum(a[:, None] < b[None, :]) + 0.5 * np.sum(
                a[:, None] == b[None, :]
            )
    r = QUERIES["jonckheere_terpstra_hours"](spark, SF).collect()[0]
    assert abs(r["j_stat"] - j) < 0.51
    n = sum(len(g) for g in groups)
    sq = sum(len(g) ** 2 for g in groups)
    e_j = (n**2 - sq) / 4.0
    var = (
        n**2 * (2 * n + 3) - sum(len(g) ** 2 * (2 * len(g) + 3) for g in groups)
    ) / 72.0
    assert abs(r["z"] - (j - e_j) / math.sqrt(var)) < 1e-4


def test_tornqvist_matches_pandas(spark):
    li = (
        load_table(spark, SF, "lineitem")
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    part = load_table(spark, SF, "part").select("p_partkey", "p_brand").toPandas()
    df = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    df["mo"] = df.l_shipdate.dt.to_period("M")
    pm = df.groupby(["mo", "p_brand"]).agg(
        rev=("l_extendedprice", "sum"), qty=("l_quantity", "sum")
    )
    pm["price"] = pm.rev / pm.qty
    pm["share"] = pm.rev / pm.groupby("mo").rev.transform("sum")
    got = {
        r["month"]: (r["ln_tornqvist"], r["n_brands"])
        for r in QUERIES["tornqvist_price_index_monthly"](spark, SF).collect()
    }
    months = sorted(pm.index.get_level_values(0).unique())
    checked = 0
    for prev, cur in zip(months, months[1:]):
        if (cur - prev).n != 1:
            continue
        a, b = pm.loc[prev], pm.loc[cur]
        common = a.index.intersection(b.index)
        if len(common) == 0:
            continue
        ln_p = float(
            (
                0.5
                * (a.loc[common, "share"] + b.loc[common, "share"])
                * np.log(b.loc[common, "price"] / a.loc[common, "price"])
            ).sum()
        )
        key = str(cur.start_time.date())
        assert key in got, key
        assert got[key][1] == len(common)
        assert abs(got[key][0] - ln_p) < 1e-4
        checked += 1
    assert checked >= 5


# ---------------------------------------------------------------------------
# Wave B (round 7): Bass diffusion, Erlang-C, Hurst R/S, burstiness,
# pairwise JSD.
# ---------------------------------------------------------------------------


def test_bass_diffusion_matches_numpy_ols(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
        .toPandas()
    )
    first = pdf.groupby("user_id").d.min()
    daily = first.value_counts().sort_index()
    n_t = daily.to_numpy().astype(float)
    nprev = np.concatenate([[0.0], np.cumsum(n_t)[:-1]])
    X = np.stack([np.ones_like(nprev), nprev, nprev**2], axis=1)
    coef, *_ = np.linalg.lstsq(X, n_t, rcond=None)
    r = QUERIES["bass_diffusion_fit"](spark, SF).collect()[0]
    assert r["n_days"] == len(n_t)
    assert abs(r["coef_a"] - coef[0]) < 1e-3
    assert abs(r["coef_b"] - coef[1]) < 1e-3
    assert abs(r["coef_c"] - coef[2]) < 1e-5
    a, b, c = coef
    disc = b * b - 4 * a * c
    if c < 0 and disc >= 0:
        m = (-b - math.sqrt(disc)) / (2 * c)
        assert abs(r["market_size_m"] - m) < 1e-1
        assert abs(r["p_innovation"] - a / m) < 1e-4
        assert abs(r["q_imitation"] - (-c * m)) < 1e-4


def _erlang_c_prob(a, c):
    terms = [1.0]
    for k in range(1, c + 1):
        terms.append(terms[-1] * a / k)
    tail = terms[c] * c / (c - a)
    return tail / (sum(terms[:c]) + tail)


def test_erlang_c_matches_scalar_formula(spark):
    pdf = load_table(spark, SF, "events").select(
        F.hour("ts").alias("h"), F.to_date("ts").alias("d")
    ).toPandas()
    ndays = pdf.d.nunique()
    rows = QUERIES["erlang_c_staffing"](spark, SF).collect()
    got = {r["hour"]: r for r in rows}
    for h, cnt in pdf.h.value_counts().items():
        lam = cnt / ndays
        a = lam / 12.0
        c = next(
            cc for cc in range(1, 41)
            if cc > a and _erlang_c_prob(a, cc) < 0.2
        )
        r = got[h]
        assert abs(r["lambda_per_hour"] - lam) < 1e-4
        assert r["servers_required"] == c
        assert abs(r["p_wait"] - _erlang_c_prob(a, c)) < 1e-4
        # the next-smaller staffing must violate the SLA (minimality)
        if c - 1 > a:
            assert _erlang_c_prob(a, c - 1) >= 0.2


def test_hurst_rs_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
        .toPandas()
    )
    y = pdf.groupby("d").o_totalprice.sum().sort_index().to_numpy()
    want = {}
    pts = []
    for nsz in (8, 16, 32, 64):
        rss = []
        for b in range(len(y) // nsz):
            blk = y[b * nsz:(b + 1) * nsz]
            z = np.cumsum(blk - blk.mean())
            s = blk.std()
            if s > 0:
                rss.append((z.max() - z.min()) / s)
        want[nsz] = (len(rss), float(np.mean(rss)))
        pts.append((math.log(nsz), math.log(np.mean(rss))))
    xs, ys = zip(*pts)
    n = len(xs)
    h = (n * np.dot(xs, ys) - sum(xs) * sum(ys)) / (
        n * np.dot(xs, xs) - sum(xs) ** 2
    )
    rows = QUERIES["hurst_rs_daily"](spark, SF).collect()
    for r in rows:
        nb, mrs = want[r["block_size"]]
        assert r["n_blocks"] == nb
        assert abs(r["mean_rs"] - mrs) < 1e-4
        assert abs(r["hurst"] - h) < 1e-4
    # R/S of any real series is positive and H is a sane exponent
    assert 0.0 < rows[0]["hurst"] < 1.5


def test_burstiness_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", F.expr("ts_ns div 1000").alias("us"))
        .toPandas()
        .sort_values(["user_id", "us", "event_id"])
    )
    bins = Counter()
    sums = Counter()
    for _, g in pdf.groupby("user_id"):
        gaps = np.diff(g.us.to_numpy()).astype(float)
        if len(gaps) < 2:
            continue
        mu, sd = gaps.mean(), math.sqrt(np.mean(gaps**2) - gaps.mean() ** 2)
        bi = (sd - mu) / (sd + mu)
        bn = int(min(max(math.floor((bi + 1) * 5), 0), 9))
        bins[bn] += 1
        sums[bn] += bi
    rows = QUERIES["burstiness_goh_barabasi"](spark, SF).collect()
    assert {r["b_bin"]: r["n_users"] for r in rows} == dict(bins)
    for r in rows:
        assert abs(r["avg_burstiness"] - sums[r["b_bin"]] / bins[r["b_bin"]]) < 1e-4


def test_jsd_sources_matches_bruteforce(spark):
    import re as _re

    pdf = load_table(spark, SF, "documents").select("source", "text").toPandas()
    dist = {}
    for src, g in pdf.groupby("source"):
        cnt = Counter()
        for t in g.text:
            cnt.update(
                w for w in _re.sub(r"[^a-zA-Z0-9]+", " ", t.lower()).split() if w
            )
        tot = sum(cnt.values())
        dist[src] = {w: c / tot for w, c in cnt.items()}
    want = {}
    srcs = sorted(dist)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            p, q = dist[sa], dist[sb]
            jsd = 0.0
            for w in set(p) | set(q):
                pw, qw = p.get(w, 0.0), q.get(w, 0.0)
                m = (pw + qw) / 2
                if pw > 0:
                    jsd += 0.5 * pw * math.log(pw / m)
                if qw > 0:
                    jsd += 0.5 * qw * math.log(qw / m)
            want[(sa, sb)] = jsd
    rows = QUERIES["jsd_source_similarity_topk"](spark, SF).collect()
    expected_top = sorted(want.items(), key=lambda kv: (round(kv[1], 6), kv[0]))[:10]
    assert [(r["src_a"], r["src_b"]) for r in rows] == [k for k, _ in expected_top]
    for r in rows:
        assert abs(r["jsd"] - want[(r["src_a"], r["src_b"])]) < 1e-4
        assert 0.0 <= r["jsd"] <= math.log(2) + 1e-9


# ---------------------------------------------------------------------------
# Wave C (round 7): seasonal MK, gains deciles, funnel z, Nelson–Aalen,
# gamma / Somers' D.
# ---------------------------------------------------------------------------


def test_seasonal_mann_kendall_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
        .toPandas()
    )
    daily = pdf.groupby("d").o_totalprice.sum().sort_index()
    s_all, var_s = 0, 0.0
    for wd in range(7):
        ser = daily[[d.isoweekday() % 7 + 1 == wd + 1 for d in daily.index]]
        y = ser.to_numpy()
        n = len(y)
        for i in range(n):
            for j in range(i + 1, n):
                s_all += int(np.sign(y[j] - y[i]))
        var_s += n * (n - 1) * (2 * n + 5) / 18.0
    r = QUERIES["seasonal_mann_kendall"](spark, SF).collect()[0]
    assert r["s_stat"] == s_all
    assert abs(r["var_s"] - var_s) < 0.01
    z = (
        (s_all - 1) / math.sqrt(var_s)
        if s_all > 0
        else ((s_all + 1) / math.sqrt(var_s) if s_all < 0 else 0.0)
    )
    assert abs(r["z"] - z) < 1e-4


def test_lift_gains_deciles_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
        .toPandas()
    )
    pdf["sc"] = round(1.0 / (1.0 + np.exp(-(pdf.value - 50.0) / 25.0)), 9)
    pdf["y"] = (pdf.event_type == "purchase").astype(int)
    pdf = pdf.sort_values(["sc", "event_id"], ascending=[False, True]).reset_index()
    n = len(pdf)
    q, rr = divmod(n, 10)
    cut = rr * (q + 1)
    pdf["decile"] = [
        i // (q + 1) if i < cut else rr + (i - cut) // q for i in range(n)
    ]
    g = pdf.groupby("decile").agg(n_rows=("y", "size"), n_pos=("y", "sum"))
    base = g.n_pos.sum() / g.n_rows.sum()
    rows = QUERIES["lift_gains_deciles"](spark, SF).collect()
    cum = 0
    for r in rows:
        e = g.loc[r["decile"]]
        cum += e.n_pos
        assert r["n_rows"] == e.n_rows and r["n_pos"] == e.n_pos
        assert abs(r["lift"] - (e.n_pos / e.n_rows) / base) < 1e-4
        assert abs(r["cum_capture"] - cum / g.n_pos.sum()) < 1e-4
    # monotone capture reaching 1.0
    assert abs(rows[-1]["cum_capture"] - 1.0) < 1e-9


def test_funnel_step_z_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type", F.expr("ts_ns div 1000").alias("us"))
        .toPandas()
    )
    per = {}
    for uid, g in pdf.groupby("user_id"):
        tv = g[g.event_type == "view"].us.min()
        tc = g[g.event_type == "click"].us.min()
        tp = g[g.event_type == "purchase"].us.min()
        per[uid] = (g.us.min(), tv, tc, tp)
    firsts = [v[0] for v in per.values()]
    cutoff = min(firsts) + (max(firsts) - min(firsts)) // 2
    agg = {"early": [0, 0, 0], "late": [0, 0, 0]}
    for first, tv, tc, tp in per.values():
        c = "early" if first < cutoff else "late"
        s1 = not math.isnan(tv) if tv == tv else False
        s1 = tv == tv
        s2 = s1 and tc == tc and tc > tv
        s3 = s2 and tp == tp and tp > tc
        agg[c][0] += int(s1)
        agg[c][1] += int(s2)
        agg[c][2] += int(s3)
    rows = {r["step"]: r for r in QUERIES["funnel_step_significance"](spark, SF).collect()}

    def check(step, bi, ci):
        ne, ce = agg["early"][bi], agg["early"][ci]
        nl, cl = agg["late"][bi], agg["late"][ci]
        r = rows[step]
        assert r["n_early"] == ne and r["n_late"] == nl
        pp = (ce + cl) / (ne + nl)
        z = (ce / ne - cl / nl) / math.sqrt(pp * (1 - pp) * (1 / ne + 1 / nl))
        assert abs(r["z"] - z) < 1e-4

    check("view_to_click", 0, 1)
    check("click_to_purchase", 1, 2)


def test_nelson_aalen_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type", F.expr("ts_ns div 1000").alias("us"))
        .toPandas()
    )
    durations = []
    horizon = 0
    per = []
    for uid, g in pdf.groupby("user_id"):
        entry = g.us.min()
        pu = g[g.event_type == "purchase"].us.min()
        last = g.us.max()
        horizon = max(horizon, last)
        per.append((entry, pu))
    for entry, pu in per:
        if pu == pu and pu > entry:
            durations.append(((pu - entry) // 86_400_000_000, 1))
        else:
            durations.append(((horizon - entry) // 86_400_000_000, 0))
    rows = QUERIES["nelson_aalen_hazard"](spark, SF).collect()
    days = sorted({t for t, e in durations if e == 1})
    h = 0.0
    got = {r["day"]: r for r in rows}
    assert set(got) == set(days)
    for t in days:
        d = sum(1 for tt, e in durations if e == 1 and tt == t)
        n_risk = sum(1 for tt, _ in durations if tt >= t)
        h += d / n_risk
        assert got[t]["n_events"] == d and got[t]["n_risk"] == n_risk
        assert abs(got[t]["na_cum_hazard"] - round(h, 6)) < 2e-6
    # cumulative hazard is nondecreasing by construction
    vals = [got[t]["na_cum_hazard"] for t in days]
    assert vals == sorted(vals)


def test_gamma_somers_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select(F.hour("ts").alias("h"), "value")
        .toPandas()
    )
    qv = np.quantile(pdf.value, [0.25, 0.5, 0.75], method="linear")
    x = (pdf.h // 6).to_numpy()
    y = np.digitize(pdf.value, qv, right=True)
    ct = Counter(zip(x, y))
    conc = disc = tx = 0
    items = list(ct.items())
    for (xa, ya), na in items:
        for (xb, yb), nb in items:
            if xb > xa and yb > ya:
                conc += na * nb
            elif xb > xa and yb < ya:
                disc += na * nb
            elif xb == xa and yb > ya:
                tx += na * nb
    r = QUERIES["gamma_somers_d_ordinal"](spark, SF).collect()[0]
    assert r["n_rows"] == len(pdf)
    assert r["concordant"] == conc and r["discordant"] == disc
    assert abs(r["gamma"] - (conc - disc) / (conc + disc)) < 1e-6
    assert abs(r["somers_d_yx"] - (conc - disc) / (conc + disc + tx)) < 1e-6


# ---------------------------------------------------------------------------
# Wave D (round 7): pipeline audits — decontam rates, pack efficiency,
# Fisher dims, dup cluster sizes.
# ---------------------------------------------------------------------------


def _tokenize(t):
    import re as _re

    return [w for w in _re.sub(r"[^a-zA-Z0-9]+", " ", t.lower()).split() if w]


def test_decontam_rate_by_source_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).toPandas()
    sh = {}
    for _, r in pdf.iterrows():
        toks = _tokenize(r.text)
        if len(toks) >= 13:
            s = {" ".join(toks[i:i + 13]) for i in range(len(toks) - 12)}
        else:
            s = {" ".join(toks)}
        sh[r.doc_id] = s
    probe = set().union(*(sh[d] for d in sh if d % 50 == 0)) if sh else set()
    per_source = {}
    for _, r in pdf.iterrows():
        if r.doc_id % 50 == 0:
            continue
        n, k = per_source.get(r.source, (0, 0))
        per_source[r.source] = (n + 1, k + (1 if sh[r.doc_id] & probe else 0))
    rows = {r["source"]: r for r in QUERIES["decontam_rate_by_source"](spark, SF).collect()}
    assert set(rows) == set(per_source)
    for src, (n, k) in per_source.items():
        r = rows[src]
        assert r["n_docs"] == n and r["n_contaminated"] == k
        p = k / n
        lo = (p + 1.9208 / n - 1.96 * math.sqrt(p * (1 - p) / n + 0.9604 / n**2)) / (
            1 + 3.8416 / n
        )
        hi = (p + 1.9208 / n + 1.96 * math.sqrt(p * (1 - p) / n + 0.9604 / n**2)) / (
            1 + 3.8416 / n
        )
        assert abs(r["wilson_lo"] - lo) < 1e-5 and abs(r["wilson_hi"] - hi) < 1e-5
        assert r["wilson_lo"] <= r["rate"] <= r["wilson_hi"]


def test_pack_efficiency_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    pdf = pdf.sort_values("doc_id")
    lens = [len(_tokenize(t)) for t in pdf.text]
    cum = 0
    bins = Counter()
    for ln in lens:
        cum += ln
        bins[(cum - ln) // 512] += ln
    n_bins = len(bins)
    fills = list(bins.values())
    last_bin = max(bins)
    r = QUERIES["pack_efficiency_audit"](spark, SF).collect()[0]
    assert r["n_bins"] == n_bins and r["n_docs"] == len(lens)
    assert abs(r["mean_fill_ratio"] - np.mean([f / 512 for f in fills])) < 1e-5
    assert abs(
        r["frac_overflow_bins"] - sum(1 for f in fills if f > 512) / n_bins
    ) < 1e-6
    assert abs(
        r["waste_share"] - (1 - sum(fills) / (512 * (last_bin + 1)))
    ) < 1e-6


def test_fisher_dims_matches_numpy(spark):
    pdf = load_table(spark, SF, "embeddings").select("embedding", "label").toPandas()
    X = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    y = pdf.label.to_numpy()
    mu_all = X.mean(axis=0)
    between = np.zeros(X.shape[1])
    within = np.zeros(X.shape[1])
    for lab in np.unique(y):
        Xl = X[y == lab]
        between += len(Xl) * (Xl.mean(axis=0) - mu_all) ** 2
        within += len(Xl) * Xl.var(axis=0)
    between /= len(X)
    within /= len(X)
    ratio = between / within
    order = sorted(range(64), key=lambda d: (-round(ratio[d], 6), d))[:10]
    rows = QUERIES["fisher_discriminative_dims"](spark, SF).collect()
    assert [r["dim"] - 1 for r in rows] == order
    for r in rows:
        assert abs(r["fisher_ratio"] - ratio[r["dim"] - 1]) < 1e-4


def test_dup_cluster_sizes_match_unionfind(spark):
    pdf = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    sh = {}
    for _, r in pdf.iterrows():
        toks = _tokenize(r.text)
        sh[r.doc_id] = {
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()
    ids = sorted(sh)
    parent = {i: i for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    clustered = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter and inter / len(sh[a] | sh[b]) >= 0.5:
                clustered |= {a, b}
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    sizes = Counter()
    comp = Counter(find(a) for a in clustered)
    for _, sz in comp.items():
        sizes[sz] += 1
    rows = QUERIES["dup_cluster_size_distribution"](spark, SF).collect()
    assert {r["cluster_size"]: r["n_clusters"] for r in rows} == dict(sizes)
    n_total = len(ids)
    for r in rows:
        assert r["n_docs_in"] == r["cluster_size"] * r["n_clusters"]
        want = (r["cluster_size"] - 1) * r["n_clusters"] / n_total
        assert abs(r["removable_share"] - want) < 1e-6


# ---------------------------------------------------------------------------
# Wave E (round 7): Haar wavelets, KS-exponential, Yule's K, FWL,
# Krippendorff's alpha.
# ---------------------------------------------------------------------------


def test_haar_wavelet_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
        .toPandas()
    )
    y = pdf.groupby("d").o_totalprice.sum().sort_index().to_numpy()
    energies = {}
    for j in (1, 2, 3, 4):
        size = 2**j
        es = []
        for b in range(len(y) // size):
            blk = y[b * size:(b + 1) * size]
            d = (blk[: size // 2].mean() - blk[size // 2:].mean()) * math.sqrt(size) / 2
            es.append(d * d)
        energies[j] = (len(es), sum(es))
    te = sum(e for _, e in energies.values())
    rows = QUERIES["haar_wavelet_variance"](spark, SF).collect()
    assert len(rows) == 4
    for r in rows:
        n, e = energies[r["level"]]
        assert r["n_coefs"] == n and r["block_days"] == 2 ** r["level"]
        assert abs(r["energy_share"] - e / te) < 1e-5
    assert abs(sum(r["energy_share"] for r in rows) - 1.0) < 1e-4


def test_ks_exponential_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", F.expr("ts_ns div 1000").alias("us"))
        .toPandas()
        .sort_values(["user_id", "us", "event_id"])
    )
    gaps = []
    for _, g in pdf.groupby("user_id"):
        gaps.extend(np.diff(g.us.to_numpy()) / 1e6)
    gaps = np.array([g for g in gaps if g > 0])
    lam = 1.0 / gaps.mean()
    ks_vals = np.sort(gaps)
    n = len(gaps)
    cdf = 1 - np.exp(-lam * ks_vals)
    ecdf_hi = np.arange(1, n + 1) / n
    ecdf_lo = np.arange(0, n) / n
    d = max(np.abs(ecdf_hi - cdf).max(), np.abs(ecdf_lo - cdf).max())
    r = QUERIES["ks_exponential_gaps"](spark, SF).collect()[0]
    assert r["n_gaps"] == n
    assert abs(r["lambda_hat"] - lam) < 1e-8
    assert abs(r["ks_d"] - d) < 1e-5
    assert r["reject_exponential"] == (d > 1.358 / math.sqrt(n))


def test_yule_k_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "documents").select("lang", "text").toPandas()
    rows = {r["lang"]: r for r in QUERIES["yule_k_lexical_richness"](spark, SF).collect()}
    for lang, g in pdf.groupby("lang"):
        cnt = Counter()
        for t in g.text:
            cnt.update(_tokenize(t))
        n = sum(cnt.values())
        sc2 = sum(c * c for c in cnt.values())
        f1 = sum(1 for c in cnt.values() if c == 1)
        r = rows[lang]
        assert r["n_tokens"] == n and r["vocab"] == len(cnt)
        assert abs(r["yule_k"] - 1e4 * (sc2 - n) / n**2) < 1e-4
        assert abs(r["hapax_share"] - f1 / len(cnt)) < 1e-6


def test_fwl_matches_numpy_multivariate_ols(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select(F.hour("ts").alias("h"), "value", F.dayofweek(F.to_date("ts")).alias("wd"))
        .toPandas()
    )
    # full multivariate OLS: value ~ hour + weekday dummies
    wd = np.asarray(pdf.wd)
    dummies = np.stack([(wd == k).astype(float) for k in np.unique(wd)], axis=1)
    X = np.column_stack([pdf.h.to_numpy().astype(float), dummies])
    beta, *_ = np.linalg.lstsq(X, pdf.value.to_numpy(), rcond=None)
    r = QUERIES["fwl_partial_regression"](spark, SF).collect()[0]
    # FWL identity: residualized slope == the multivariate coefficient
    assert abs(r["partial_slope"] - beta[0]) < 1e-4
    assert r["n_rows"] == len(pdf)
    assert -1.0 <= r["partial_corr"] <= 1.0


def test_krippendorff_alpha_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value", F.hour("ts").alias("h"))
        .toPandas()
    )
    r1 = (pdf.value > 500).astype(int).to_numpy()
    r2 = (pdf.h >= 12).astype(int).to_numpy()
    n = len(pdf)
    d_o = float(np.mean(r1 != r2))
    n1 = int(r1.sum() + r2.sum())
    n0 = 2 * n - n1
    d_e = ((2 * n) ** 2 - (n1**2 + n0**2)) / (2 * n * (2 * n - 1))
    r = QUERIES["krippendorff_alpha_nominal"](spark, SF).collect()[0]
    assert r["n_units"] == n
    assert abs(r["observed_disagreement"] - d_o) < 1e-6
    assert abs(r["alpha"] - (1 - d_o / d_e)) < 1e-5


# ---------------------------------------------------------------------------
# Wave F (round 7): Weibull fit, EOQ, meta-analysis pooling, CJK share.
# ---------------------------------------------------------------------------


def test_weibull_fit_matches_moments(spark):
    pdf = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type", F.expr("ts_ns div 1000").alias("us"))
        .toPandas()
    )
    lts = []
    for _, g in pdf.groupby("user_id"):
        entry = g.us.min()
        pu = g[g.event_type == "purchase"].us.min()
        if pu == pu and pu > entry:
            lts.append(math.log((pu - entry) / 3_600_000_000.0))
    lts = np.array(lts)
    sd = math.sqrt(np.mean(lts**2) - lts.mean() ** 2)
    k = math.pi / (sd * math.sqrt(6))
    scale = math.exp(lts.mean() + 0.5772156649015329 / k)
    r = QUERIES["weibull_fit_time_to_purchase"](spark, SF).collect()[0]
    assert r["n_converted"] == len(lts)
    assert abs(r["shape_k"] - k) < 1e-4
    assert abs(r["scale_hours"] - scale) < 1e-2
    assert abs(r["median_hours"] - scale * math.log(2) ** (1 / k)) < 1e-2


def test_eoq_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"
    ).toPandas()
    years = (pdf.l_shipdate.max() - pdf.l_shipdate.min()).days / 365.25
    g = pdf.groupby("l_partkey").agg(
        q=("l_quantity", "sum"), rev=("l_extendedprice", "sum")
    )
    g["unit"] = g.rev / g.q
    g["d"] = g.q / years
    g["eoq"] = np.sqrt(2 * g.d * 100.0 / (0.2 * g.unit))
    top = g.sort_values(["d"], ascending=False)
    top = top.reset_index().sort_values(
        ["d", "l_partkey"], ascending=[False, True]
    ).head(20)
    rows = QUERIES["eoq_inventory_plan"](spark, SF).collect()
    # compare as sets on rounded demand (ordering ties broken identically)
    assert [r["partkey"] for r in rows] == list(top.l_partkey)
    for r, (_, e) in zip(rows, top.iterrows()):
        assert abs(r["eoq_units"] - e.eoq) < 1e-2
        assert abs(r["orders_per_year"] - e.d / e.eoq) < 1e-2


def test_meta_analysis_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(F.dayofweek(F.to_date("ts")).alias("wd"), "event_type", "value")
        .toPandas()
    )
    es, ws = [], []
    for wd, g in pdf.groupby("wd"):
        p = g[g.event_type == "purchase"].value.to_numpy()
        v = g[g.event_type == "view"].value.to_numpy()
        e = p.mean() - v.mean()
        se2 = (np.mean(p**2) - p.mean() ** 2) / len(p) + (
            np.mean(v**2) - v.mean() ** 2
        ) / len(v)
        es.append(e)
        ws.append(1 / se2)
    es, ws = np.array(es), np.array(ws)
    pooled = float(np.sum(ws * es) / ws.sum())
    q = float(np.sum(ws * (es - pooled) ** 2))
    r = QUERIES["meta_analysis_weekday_effects"](spark, SF).collect()[0]
    assert r["n_strata"] == len(es)
    assert abs(r["pooled_effect"] - pooled) < 1e-4
    assert abs(r["se_pooled"] - math.sqrt(1 / ws.sum())) < 1e-5
    assert abs(r["cochran_q"] - q) < 1e-3
    assert abs(r["i_squared"] - max(0.0, (q - (len(es) - 1)) / q)) < 1e-4


def test_cjk_share_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "documents").select("lang", "text").toPandas()
    rows = {r["lang"]: r for r in QUERIES["cjk_script_share_by_lang"](spark, SF).collect()}
    for lang, g in pdf.groupby("lang"):
        shares, nmaj = [], 0
        for t in g.text:
            n = len(t)
            c = sum(1 for ch in t if "一" <= ch <= "鿿")
            shares.append(c / n if n else None)
            nmaj += int(2 * c > n)
        vals = [s for s in shares if s is not None]
        r = rows[lang]
        assert r["n_docs"] == len(g)
        assert abs(r["avg_cjk_share"] - np.mean(vals)) < 1e-5
        assert r["n_majority_cjk"] == nmaj
    # the synthetic corpus labels Latin text as zh — the audit must
    # EXPOSE that: zero majority-CJK docs under every declared lang
    # (documented in the query docstring; real corpora flip this)
    assert all(rows[lg]["n_majority_cjk"] == 0 for lg in rows)
    assert rows["zh"]["avg_cjk_share"] < 0.01


# ---------------------------------------------------------------------------
# Wave G (round 7): AMS F2, randomized response, pivot, cube.
# ---------------------------------------------------------------------------


def test_ams_f2_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "events").select("user_id").toPandas()
    cnt = pdf.user_id.value_counts()
    f2 = int((cnt**2).sum())
    ests = []
    for j in range(8):
        s = 0
        for uid, c in cnt.items():
            h = (uid * (1000003 + 2 * j) + 7) % 999983 * 40503 % 999983
            s += c if h < 499991 else -c
        ests.append(float(s * s))
    r = QUERIES["ams_f2_sketch_audit"](spark, SF).collect()[0]
    assert r["exact_f2"] == f2
    assert abs(r["mean_est_ratio"] - np.mean(ests) / f2) < 1e-4
    assert abs(r["median_est_ratio"] - np.median(ests) / f2) < 1e-4
    # AMS unbiasedness: the 8-estimator mean lands within a loose
    # sampling band of the truth
    assert 0.2 < r["mean_est_ratio"] < 5.0


def test_randomized_response_matches_bruteforce(spark):
    pdf = load_table(spark, SF, "events").select("event_id", "event_type").toPandas()
    b = (pdf.event_type == "purchase").astype(int).to_numpy()
    h = (pdf.event_id.to_numpy() * 1000003 + 7) % 999983 * 40503 % 999983
    keep = h < 749987
    reported = np.where(keep, b, 1 - b)
    lam = reported.mean()
    r = QUERIES["randomized_response_debias"](spark, SF).collect()[0]
    assert r["n_rows"] == len(pdf)
    assert abs(r["lambda_observed"] - lam) < 1e-6
    assert abs(r["pi_debiased"] - (lam - 0.25) / 0.5) < 1e-6
    assert abs(r["pi_true"] - b.mean()) < 1e-6
    # the debiased estimate must beat the raw noised rate
    assert abs(r["pi_debiased"] - r["pi_true"]) < abs(lam - b.mean())


def test_pivot_and_cube_match_pandas(spark):
    o = load_table(spark, SF, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    ).toPandas()
    c = load_table(spark, SF, "customer").select("c_custkey", "c_nationkey").toPandas()
    n = load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).toPandas()
    rg = load_table(spark, SF, "region").select("r_regionkey", "r_name").toPandas()
    df = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(n, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rg, left_on="n_regionkey", right_on="r_regionkey")
    )
    pv = df.pivot_table(
        index="n_name", columns="o_orderpriority", values="o_totalprice",
        aggfunc="sum", fill_value=0.0,
    )
    rows = QUERIES["pivot_revenue_nation_priority"](spark, SF).collect()
    colmap = {
        "p1_urgent": "1-URGENT", "p2_high": "2-HIGH", "p3_medium": "3-MEDIUM",
        "p4_notspec": "4-NOT SPECIFIED", "p5_low": "5-LOW",
    }
    for r in rows:
        for out_col, prio in colmap.items():
            want = float(pv.loc[r["nation"]].get(prio, 0.0)) if r["nation"] in pv.index else 0.0
            assert abs(r[out_col] - round(want, 2)) < 0.02, (r["nation"], prio)
    cube_rows = QUERIES["cube_revenue_region_priority"](spark, SF).collect()
    got = {(r["region"], r["priority"]): (r["n_orders"], r["revenue"]) for r in cube_rows}
    # grand total
    assert got[("ALL", "ALL")][0] == len(df)
    assert abs(got[("ALL", "ALL")][1] - round(df.o_totalprice.sum(), 2)) < 0.02
    # one marginal each way
    for reg, g in df.groupby("r_name"):
        assert got[(reg, "ALL")][0] == len(g)
    for pr, g in df.groupby("o_orderpriority"):
        assert got[("ALL", pr)][0] == len(g)
    # full lattice size: (5 regions + ALL) x (5 priorities + ALL)
    present_regions = df.r_name.nunique()
    present_prios = df.o_orderpriority.nunique()
    assert len(got) == (present_regions + 1) * (present_prios + 1)


# ---------------------------------------------------------------------------
# Wave H (round 7): advisors — histogram scheme, DKW, shuffle skew,
# MinHash banding.
# ---------------------------------------------------------------------------


def test_histogram_scheme_advisor_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("value")
        .toPandas()
    )
    v = pdf.value.to_numpy()
    lo, hi, n = v.min(), v.max(), len(v)
    ew = Counter(np.minimum(((v - lo) / ((hi - lo) / 16.0)).astype(int), 15))
    qs = np.quantile(v, [i / 16 for i in range(1, 16)], method="linear")
    ed = Counter(np.searchsorted(qs, v, side="left"))
    # searchsorted(left) counts qs[j] < value  (strict), matching len(filter(q < v))
    ed = Counter(int(np.sum(qs < x)) for x in v)
    rows = {r["scheme"]: r for r in QUERIES["histogram_scheme_advisor"](spark, SF).collect()}
    assert rows["equi_width"]["n_nonempty_bins"] == len(ew)
    assert abs(rows["equi_width"]["max_bin_share"] - max(ew.values()) / n) < 1e-5
    assert rows["equi_depth"]["n_nonempty_bins"] == len(ed)
    assert abs(rows["equi_depth"]["max_bin_share"] - max(ed.values()) / n) < 1e-5
    # equi-depth must beat (or tie) equi-width on the worst bin
    assert (
        rows["equi_depth"]["max_bin_share"]
        <= rows["equi_width"]["max_bin_share"] + 1e-9
    )


def test_dkw_sample_audit_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
        .toPandas()
    )
    h = (pdf.event_id.to_numpy() * 1000003 + 7) % 999983 * 40503 % 999983
    samp = pdf.value.to_numpy()[h < 99998]
    full = np.sort(pdf.value.to_numpy())
    samp_sorted = np.sort(samp)
    ks = np.unique(full)
    ff = np.searchsorted(full, ks, side="right") / len(full)
    fs = np.searchsorted(samp_sorted, ks, side="right") / len(samp)
    d = np.abs(ff - fs).max()
    r = QUERIES["dkw_sample_size_audit"](spark, SF).collect()[0]
    assert r["n_sample"] == len(samp)
    eps = math.sqrt(math.log(2 / 0.05) / (2 * len(samp)))
    assert abs(r["epsilon_dkw"] - eps) < 1e-6
    assert abs(r["observed_sup_error"] - d) < 1e-5
    assert r["within_bound"] == (d <= eps)


def test_shuffle_skew_advisor_matches_bruteforce(spark):
    ev = load_table(spark, SF, "events").select("user_id").toPandas()
    li = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_orderkey"
    ).toPandas()
    rows = {r["join_key"]: r for r in QUERIES["shuffle_skew_advisor"](spark, SF).collect()}
    for key, series in [
        ("events.user_id", ev.user_id),
        ("lineitem.l_partkey", li.l_partkey),
        ("lineitem.l_orderkey", li.l_orderkey),
    ]:
        cnt = series.value_counts()
        n = len(series)
        r = rows[key]
        assert r["n_distinct_keys"] == len(cnt)
        assert abs(r["top_key_share"] - cnt.iloc[0] / n) < 1e-6
        assert abs(
            r["skew_factor"] - float((cnt**2).sum()) / n**2 * len(cnt)
        ) < 1e-4
        assert r["recommended_salt"] == max(1, math.ceil(cnt.iloc[0] / (n / 32)))
        assert r["needs_salting"] == (cnt.iloc[0] > 2 * n / 32)


def test_minhash_banding_advisor_s_curve_invariants(spark):
    rows = QUERIES["minhash_banding_advisor"](spark, SF).collect()
    assert len(rows) == 12
    for r in rows:
        b, rr = r["n_bands"], r["rows_per_band"]
        assert abs(
            r["p_detect_at_080"] - (1 - (1 - 0.8**rr) ** b)
        ) < 1e-6
        assert abs(
            r["p_detect_at_040"] - (1 - (1 - 0.4**rr) ** b)
        ) < 1e-6
        # expected detections bounded by the candidate-pair census
        assert 0 <= r["expected_detected_pairs"] <= r["n_candidate_pairs"]
    # more bands at fixed r can only raise detection probability
    by_r = {}
    for r in rows:
        by_r.setdefault(r["rows_per_band"], []).append(
            (r["n_bands"], r["p_detect_at_080"])
        )
    for rr, pts in by_r.items():
        pts.sort()
        ps = [p for _, p in pts]
        assert ps == sorted(ps)


# ---------------------------------------------------------------------------
# Wave I (round 7): TPC-H shape analogues Q3/Q5/Q13/Q16 — plan-shape +
# invariant pins (the DuckDB oracle is the value check).
# ---------------------------------------------------------------------------


def test_q13_distribution_accounts_for_every_customer(spark):
    rows = QUERIES["customer_order_distribution_q13"](spark, SF).collect()
    n_cust = load_table(spark, SF, "customer").count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    by_orders = {r["n_orders"]: r["n_customers"] for r in rows}
    o = load_table(spark, SF, "orders").select("o_custkey").distinct().count()
    # zero-order bucket = customers the inner join would silently drop
    assert by_orders.get(0, 0) == n_cust - o


def test_q3_q5_q16_plan_shapes(spark):
    from tools.plan_audit import plan_of

    p = plan_of(QUERIES["shipping_priority_q3"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "PushedFilters" in p
    p = plan_of(QUERIES["local_supplier_volume_q5"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 3 and "SortMergeJoin" not in p
    p = plan_of(QUERIES["parts_supplier_variety_q16"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


# ---------------------------------------------------------------------------
# Wave J (round 7): copula tail dependence, sample entropy, Engle–Granger.
# ---------------------------------------------------------------------------


def test_copula_tail_dependence_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select("o_custkey", "o_totalprice")
        .toPandas()
    )
    g = pdf.groupby("o_custkey").o_totalprice.agg(["count", "sum"])
    f, m = g["count"].to_numpy().astype(float), g["sum"].to_numpy()
    r = QUERIES["copula_tail_dependence"](spark, SF).collect()[0]
    assert r["n_customers"] == len(g)
    for q, lo_col in ((0.90, "lambda_u_q90"), (0.95, "lambda_u_q95")):
        qf = np.quantile(f, q, method="linear")
        qm = np.quantile(m, q, method="linear")
        both = int(np.sum((f > qf) & (m > qm)))
        mm = int(np.sum(m > qm))
        assert abs(r[lo_col] - both / mm) < 1e-6
    assert 0.0 <= r["lambda_u_q90"] <= 1.0


def test_sample_entropy_matches_bruteforce(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
        .toPandas()
    )
    y = pdf.groupby("d").o_totalprice.sum().sort_index().to_numpy()
    rr = 0.2 * math.sqrt(np.mean(y**2) - y.mean() ** 2)
    v = np.stack([y[:-2], y[1:-1], y[2:]], axis=1)
    b2 = a3 = 0
    for i in range(len(v)):
        d = np.abs(v[i + 1:] - v[i])
        m2 = (d[:, 0] < rr) & (d[:, 1] < rr)
        b2 += int(m2.sum())
        a3 += int((m2 & (d[:, 2] < rr)).sum())
    r = QUERIES["sample_entropy_daily"](spark, SF).collect()[0]
    assert r["n_days"] == len(y)
    assert r["template_matches_m2"] == b2
    assert r["template_matches_m3"] == a3
    assert abs(r["sampen"] - (-math.log(a3 / b2))) < 1e-5


def test_engle_granger_matches_numpy(spark):
    pdf = (
        load_table(spark, SF, "orders")
        .select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
        .toPandas()
    )
    g = pdf.groupby("d").o_totalprice.agg(["sum", "count"]).sort_index()
    y = np.log(g["sum"].to_numpy())
    x = np.log(g["count"].to_numpy().astype(float))
    b = (len(x) * np.dot(x, y) - x.sum() * y.sum()) / (
        len(x) * np.dot(x, x) - x.sum() ** 2
    )
    a = y.mean() - b * x.mean()
    e = y - a - b * x
    e1, de = e[:-1], np.diff(e)
    rho = np.dot(e1, de) / np.dot(e1, e1)
    s = np.sum((de - rho * e1) ** 2)
    t_stat = rho / math.sqrt((s / (len(e1) - 2)) / np.dot(e1, e1))
    r = QUERIES["engle_granger_cointegration"](spark, SF).collect()[0]
    assert r["n_days"] == len(y)
    assert abs(r["longrun_beta"] - b) < 1e-4
    assert abs(r["df_rho"] - rho) < 1e-4
    assert abs(r["df_t_stat"] - t_stat) < 1e-3
    # revenue = count x stationary AOV: must cointegrate decisively
    assert r["cointegrated_5pct"] is True
