"""Scaling-decade bench (VERDICT r1 #8): two measured 10x steps.

The driver bench (bench.py) runs at sf0.1; the 100 TB claim deserves
measured decades. This tool synthesizes a ~sf1 dataset from the
driver's sf0.1 parquet — fact tables (events, lineitem, orders)
replicated 10x with shifted keys so key cardinality scales with rows;
dimension tables reused as-is (dims grow sublinearly in every TPC-H-ish
schema) — then times the headline workloads at THREE scales (the
driver's real sf0.01, sf0.1, and the synthesized ~sf1) and writes
SCALING.md with per-query times and two exponent estimates:

- the raw two-point exponent log10(t_sf1 / t_sf0.1) (kept for
  round-over-round continuity), and
- an OVERHEAD-CORRECTED exponent from the three-cell fit
  t(sf) = c + a·sf^e (VERDICT r12 item 3: the two-point fit whipsawed
  on untouched code whose small-scale cost is mostly fixed overhead —
  q12_cc 0.64→0.80 across rounds from measurement band alone). With
  decade-spaced cells the fit is closed-form: the differences
  t(0.1)−t(0.01) = a·(0.1^e − 0.01^e) and t(1)−t(0.1) = a·(1 − 0.1^e)
  have ratio exactly 10^e, so
      e = log10( (t_sf1 − t_sf0.1) / (t_sf0.1 − t_sf0.01) ),
  and the fixed cost c = t_sf0.01 − a·0.01^e falls out. The corrected
  exponent subtracts session/JIT/driver overhead the raw one folds in;
  cells whose differences are non-positive (noise, or dim-bound
  workloads that genuinely don't grow) report null and fall back to
  the raw exponent.

A workload whose exponent is ~1 scales linearly in data volume (the
shuffle/window/join plans hold); >>1 means a superlinear bottleneck.

Usage: python tools/bench_scale.py [--rebuild]
Scaled data lives in .scale_data/sf1/ (gitignored, built once).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SRC_SMALL = "/root/testdata/sf0.01"  # third cell (VERDICT r12 item 3)
SRC = "/root/testdata/sf0.1"
DST = os.path.join(ROOT, ".scale_data", "sf1")
REPLICAS = 10
# fact tables: (key columns to shift so cardinality scales with rows)
FACTS = {
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    # documents: every word gets a per-replica suffix so replicas share
    # no shingles — shingle document-frequency stays constant and the
    # near-dup candidate space scales LINEARLY with the corpus (verbatim
    # replication would square the pair count and measure the data, not
    # the engine)
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def build(spark) -> None:
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table

    os.makedirs(DST, exist_ok=True)
    for t, keys in FACTS.items():
        df = load_table(spark, SRC, t)
        if t == "events":
            # write back in the source layout: ts as raw nanos long
            # (load_table derives the timestamp col; keeping it would
            # write INT96 and break the schema-pinned re-read)
            df = df.drop("ts").withColumnRenamed("ts_ns", "ts")
        # key shift: replica r adds r * 10^ceil(log10(max_key+1)) — keys
        # stay unique across replicas and per-key densities are preserved
        maxes = df.select(
            *[F.max(F.col(k)).alias(k) for k in keys]
        ).first()
        shifts = {
            k: 10 ** math.ceil(math.log10(int(maxes[k]) + 2)) for k in keys
        }
        parts = []
        for r in range(REPLICAS):
            p = df
            for k in keys:
                p = p.withColumn(
                    k, (F.col(k) + F.lit(r * shifts[k])).cast(df.schema[k].dataType)
                )
            if t == "documents" and r > 0:
                p = p.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", r"$1" + str(r))
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(DST, f"{t}.parquet"))
        print(f"built {t} x{REPLICAS}", flush=True)
    for t in DIMS:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(DST, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)


def consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clear_persisted(spark) -> None:
    """Drop every persisted RDD + cached plan between workloads.

    The iterative workloads (CC, PageRank, k-core, the checkpointed
    text relations) localCheckpoint per round and nothing unpersists
    those blocks when the workload's frames go out of scope — across a
    23-workload × 2-scale sweep they pile up in the block manager, and
    late workloads pay eviction/GC pressure for their neighbours'
    leftovers (measured round 11: q12_cc at ~sf1 reads 6.7-7.0s
    best-of-3 in a fresh session but 14-16s late in the sweep, on an
    otherwise idle host — which is sweep-order bias, not the
    workload's plan cost). Clearing between workloads restores
    isolation without a JVM restart, keeping JIT/page-cache warmth."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)
    spark.catalog.clearCache()
    # broadcast relations from a previous workload's joins are only
    # collected when the JVM GCs their references (ContextCleaner) —
    # at ~sf10 a neighbour's leftover broadcasts once tipped a later
    # workload's own broadcast build over the driver heap
    # (notEnoughMemoryToBuildAndBroadcastTableError in the sweep, the
    # same query green in isolation). One explicit GC per workload
    # boundary keeps the isolation honest.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _cc_alone(spark, sf_dir: str):
    """Connected components in isolation (no shingle pipeline in front):
    bipartite order↔part edges from lineitem — the pure iterative-merge
    load, isolating CC's per-round shuffle+checkpoint scaling."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.dedup import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000_000)).alias("dst"),
    )
    return connected_components(edges)


def _kcore_alone(spark, sf_dir: str):
    """k-core decomposition in isolation (no invariant checks in
    front): the part co-purchase graph — times the H-index frontier
    loop's per-round shuffle+checkpoint scaling."""
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.graph import (
        co_occurrence_edges,
        k_core,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return k_core(co_occurrence_edges(li, "l_orderkey", "l_partkey"))


def _stream_join_batch_twin(spark, sf_dir: str):
    """Stream-stream interval join, batch twin (streaming/joins.py):
    purchases correlated to errors by the same user within [0, 1h] —
    the watermark-bounded state shape, timed on its identical batch
    plan."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.streaming.joins import interval_join_streams

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    return interval_join_streams(
        purchases, errors, "user_id", lower="0 seconds", upper="1 hour"
    ).select("l_user_id", "l_ts", "r_ts")


def _rouge2_all_pairs(spark, sf_dir: str):
    """ROUGE-2 over EVERY (doc, doc+100) pair — |docs| pairs, the
    gram-count join shape at full width."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.texteval import rouge_n

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("cand_id")).join(
        docs.select(F.col("doc_id").alias("ref_id")),
        F.col("ref_id") == F.col("cand_id") + 100,
    )
    return rouge_n(pairs, docs, n=2)


def _bootstrap_all(spark, sf_dir: str):
    """Poisson bootstrap, 50 replicates over all events — rows×50
    map-side explode, |types|·50 exchange."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.ml.evaluate import (
        poisson_bootstrap_mean_ci,
    )

    ev = load_table(spark, sf_dir, "events")
    return poisson_bootstrap_mean_ci(
        ev, ["event_type"], "value", "event_id", n_replicates=50, seed=11
    )


def _negatives_all(spark, sf_dir: str):
    """Negative mining with EVERY doc as an anchor — the bucket-join
    candidate product at its widest (|docs|·probe/|buckets|·|docs|)."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.ml.split import sample_negatives

    docs = load_table(spark, sf_dir, "documents")
    return sample_negatives(
        docs.select(F.col("doc_id").alias("anchor_id")),
        docs.select(F.col("doc_id").alias("pool_id")),
        k=5,
        probe_buckets=8,
        seed=7,
    )


def run(spark, sf_dir: str, repeats: int = 3) -> dict[str, float]:
    from fraud_detection_project_spark.queries import QUERIES

    workloads = {
        "q1_pricing": lambda: QUERIES["pricing_summary"](spark, sf_dir),
        "q2_geolocate": lambda: QUERIES["geolocate_events_value"](spark, sf_dir),
        "q3_velocity": lambda: QUERIES["velocity_features_3keys"](spark, sf_dir),
        "q4_cleaning": lambda: QUERIES["cleaning_chain"](spark, sf_dir),
        "q3s_velocity_sliced": lambda: QUERIES["rolling_24h_user_sliced"](
            spark, sf_dir
        ),
        "q6_exact_dedup": lambda: QUERIES["exact_dedup_docs"](spark, sf_dir),
        "q7_jaccard_cc": lambda: QUERIES["dup_clusters"](spark, sf_dir),
        "q8_bm25": lambda: QUERIES["bm25_search_topk"](spark, sf_dir),
        "q9_quantize": lambda: QUERIES["embedding_quantize_profile"](spark, sf_dir),
        "q10_cdc_merge": lambda: QUERIES["cdc_merge_apply"](spark, sf_dir),
        # graph + streaming families (VERDICT r2 item 6)
        "q11_pagerank": lambda: QUERIES["doc_pagerank_topk"](spark, sf_dir),
        "q12_cc_alone": lambda: _cc_alone(spark, sf_dir),
        "q13_sessionize": lambda: QUERIES["user_sessions_30m"](spark, sf_dir),
        "q14_stream_join_twin": lambda: _stream_join_batch_twin(spark, sf_dir),
        # round-3 scale-shaped additions
        "q15_global_index": lambda: QUERIES["global_index_events"](spark, sf_dir),
        "q16_interval_overlap": lambda: QUERIES["interval_overlap_sessions"](
            spark, sf_dir
        ),
        # round-4 additions: corpus surgery, iterative graph, sketches
        "q17_boilerplate": lambda: QUERIES["boilerplate_removed_docs"](
            spark, sf_dir
        ),
        "q18_kcore_alone": lambda: _kcore_alone(spark, sf_dir),
        "q19_cms": lambda: QUERIES["cms_heavy_hitters"](spark, sf_dir),
        "q20_transitions": lambda: QUERIES["event_transition_probs"](
            spark, sf_dir
        ),
        # round-4 continuation: text eval, resampling inference,
        # negative mining — scale-growing forms (the registered queries
        # cap output for the oracle; these pair/bootstrap over the
        # whole table so the decade exponent is meaningful)
        "q21_rouge2": lambda: _rouge2_all_pairs(spark, sf_dir),
        "q22_bootstrap": lambda: _bootstrap_all(spark, sf_dir),
        "q23_negatives": lambda: _negatives_all(spark, sf_dir),
    }
    consume(QUERIES["cleaning_chain"](spark, sf_dir))  # warm listing/JIT
    out = {}
    for name, build_q in workloads.items():
        # warm best-of-N (VERDICT r10 item 2): a single shot publishes
        # cold-I/O outliers into the BENCH artifact (r10's q12_cc read
        # 15.84s cold vs 6.3s warm — exponent 0.87 vs 0.62 on identical
        # code), so each workload runs `repeats` times and reports the
        # min — the engine's plan cost, not the page cache's mood.
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            consume(build_q())
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"{sf_dir.split('/')[-1]} {name}: {out[name]}s", flush=True)
        _clear_persisted(spark)
    return out


_MEASURED_PATHS = ["fraud_detection_project_spark", "tools/bench_scale.py"]


def _code_fingerprint() -> str:
    """Merge guard: per-cell-min merging across harness invocations is
    only sound when every run measured the SAME code. The fingerprint
    is the git tree/blob hash of the MEASURED paths (engine package +
    this harness), not HEAD — a doc/log-only commit between runs must
    not discard a session's merged floors, while any engine or harness
    edit flips the hash and forces fresh. A dirty state in those paths
    also forces fresh (uncommitted code is unidentifiable)."""
    import subprocess

    try:
        hashes = subprocess.run(
            ["git", "-C", ROOT, "rev-parse"]
            + [f"HEAD:{p}" for p in _MEASURED_PATHS],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        dirty = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--"]
            + _MEASURED_PATHS,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if len(hashes) != len(_MEASURED_PATHS):
            return "unknown"
        return "+".join(hashes) + ("+dirty" if dirty else "")
    except Exception:
        return "unknown"


def merge_payload(old: dict | None, new: dict, fingerprint: str) -> dict:
    """Per-cell MIN of two same-code measurement payloads.

    Within one invocation each workload already reports warm best-of-3
    — min as the machine-limited-time estimator. A single full-table
    pass still exposes ~40 cells to this co-tenant host's load spikes,
    and every full run observed in round 11 had a different handful of
    contaminated cells (q2 in run 1, q13-q16's sf0.1 in run 2, q3/q7's
    sf1 in run 3). Min ACROSS invocations is the same estimator with
    more repeats (best-of-3·N), so repeated runs monotonically refine
    the published table instead of re-rolling the noise. Guard: only
    payloads carrying the identical code fingerprint and host stamp
    merge — .scale_data is gitignored (per-container), so stale-code
    carryover would need a same-session code change, which flips the
    fingerprint."""
    if (
        not old
        or fingerprint == "unknown"  # unidentifiable code never merges
        or old.get("fingerprint") != fingerprint
        or old.get("stamp") != new.get("stamp")  # other host or cores
    ):
        merged = dict(new)
        merged["runs"] = 1
    else:
        merged = dict(new)
        for scale in ("sf0.01", "sf0.1", "sf1"):
            merged[scale] = {
                k: min(v, old.get(scale, {}).get(k, v))
                for k, v in new.get(scale, {}).items()
            }
        merged["runs"] = old.get("runs", 1) + 1
    merged["fingerprint"] = fingerprint
    merged["exponents"] = {
        k: round(math.log10(merged["sf1"][k] / merged["sf0.1"][k]), 2)
        for k in merged["sf0.1"]
        if merged["sf0.1"][k]
    }
    merged["exponents_corrected"], merged["fixed_cost"] = three_cell_fit(
        merged.get("sf0.01", {}), merged["sf0.1"], merged["sf1"]
    )
    return merged


def three_cell_fit(
    t001: dict, t01: dict, t1: dict
) -> tuple[dict, dict]:
    """Closed-form ``t(sf) = c + a·sf^e`` fit over decade-spaced cells.

    The inter-cell differences cancel c and their ratio cancels a:
        (t1 − t01) / (t01 − t001) = (1 − 0.1^e) / (0.1^e − 0.01^e)
                                  = 10^e,
    so e is a single log10 of the difference ratio, then
    a = (t1 − t01) / (1 − 0.1^e) and c = t1 − a. Returns
    (exponent per workload, fixed-cost c per workload); a workload
    with a non-positive difference in either step (measurement band,
    or a dim-bound scan that genuinely doesn't grow) gets None for
    both — the raw two-point exponent stands for it."""
    exps: dict = {}
    fixed: dict = {}
    for k in t01:
        lo, mid, hi = t001.get(k), t01.get(k), t1.get(k)
        if lo is None or mid is None or hi is None:
            exps[k] = None
            fixed[k] = None
            continue
        d_small, d_big = mid - lo, hi - mid
        # resolution guard: the fit differences cells, so steps inside
        # the timing noise band produce nonsense ratios (a 3 ms step on
        # a flat 0.5 s workload once read as exponent 1.31). Steps
        # under 50 ms — well inside this host's documented band even
        # after per-cell-min merging — are unresolvable: the workload
        # has no MEASURABLE growth over the decade, which the raw
        # exponent (~0) already states.
        if d_small < 0.05 or d_big < 0.05:
            exps[k] = None
            fixed[k] = None
            continue
        e = math.log10(d_big / d_small)
        denom = 1.0 - 10.0 ** (-e)
        exps[k] = round(e, 2)
        # near-equal decade steps (e ≈ 0) make the power model
        # degenerate (the back-out divides by ~0), and a NEGATIVE e
        # has no meaningful constant either (a < 0 puts c above the
        # total) — report the exponent alone in both cases
        fixed[k] = round(hi - d_big / denom, 3) if denom > 0.2 else None
    return exps, fixed


def main() -> None:
    from fraud_detection_project_spark.session import get_spark, host_stamp

    spark = get_spark("bench-scale")
    if "--rebuild" in sys.argv and os.path.isdir(DST):
        shutil.rmtree(DST)
    if not os.path.isdir(DST):
        build(spark)

    # fingerprint BEFORE measuring, not at write time: a commit landing
    # during the ~10-minute sweep must not stamp measurements of the
    # OLD code with the NEW tree hash (or spuriously discard the merged
    # floors, as a mid-run commit would at write-time capture)
    fingerprint = _code_fingerprint()
    t_01x = run(spark, SRC_SMALL)
    t_1x = run(spark, SRC)
    t_10x = run(spark, DST)
    spark.stop()

    payload = {
        "sf0.01": t_01x,
        "sf0.1": t_1x,
        "sf1": t_10x,
        "repeats": 3,
        "measured": time.strftime("%Y-%m-%d"),
        "stamp": host_stamp(),
    }
    json_path = os.path.join(ROOT, ".scale_data", "scaling.json")
    old_payload = None
    if "--fresh" not in sys.argv and os.path.exists(json_path):
        try:
            with open(json_path) as f:
                old_payload = json.load(f)
        except (OSError, ValueError):
            old_payload = None
    payload = merge_payload(old_payload, payload, fingerprint)
    t_01x = payload.get("sf0.01", {})
    t_1x, t_10x = payload["sf0.1"], payload["sf1"]
    e_corr = payload.get("exponents_corrected", {})
    c_fix = payload.get("fixed_cost", {})

    lines = [
        "# SCALING — measured decades (sf0.01 → sf0.1 → ~sf1), warm best-of-3",
        f"per workload, per-cell min over {payload['runs']} same-code run(s),",
        "persisted state cleared between workloads",
        "",
        "sf0.01 and sf0.1 are the driver's real datasets; ~sf1 = sf0.1",
        "facts replicated 10x with shifted keys (events, lineitem, orders,",
        "embeddings; documents additionally get per-replica word suffixes",
        "so the near-dup candidate space scales linearly, not",
        "quadratically), dims reused.",
        "raw exp = log10(t_sf1 / t_sf0.1): ~1.0 linear, <1 sublinear, >>1",
        "a superlinear bottleneck. corr exp / fixed c = the three-cell",
        "t(sf) = c + a*sf^e fit (closed form over decade cells:",
        "e = log10((t_sf1 - t_sf0.1)/(t_sf0.1 - t_sf0.01))) — the",
        "overhead-corrected growth law, with c the per-run fixed cost the",
        "raw exponent folds in; '-' where a non-positive decade step",
        "(noise band or a genuinely non-growing dim-bound workload) makes",
        "the fit undefined, in which case read the raw exponent.",
        "",
        "| workload | t @ sf0.01 (s) | t @ sf0.1 (s) | t @ ~sf1 (s) "
        "| ratio | raw exp | corr exp | fixed c (s) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in t_1x:
        r = t_10x[name] / t_1x[name] if t_1x[name] else float("nan")
        small = f"{t_01x[name]:.3f}" if name in t_01x else "-"
        ec = e_corr.get(name)
        cf = c_fix.get(name)
        lines.append(
            f"| {name} | {small} | {t_1x[name]:.3f} | {t_10x[name]:.3f} "
            f"| {r:.2f}x | {math.log10(r):.2f} "
            f"| {ec if ec is not None else '-'} "
            f"| {cf if cf is not None else '-'} |"
        )
    lines += ["", f"(run: `python tools/bench_scale.py`, {time.strftime('%Y-%m-%d')})"]
    # preserve hand-written analysis sections ("## ..." and below) across
    # regenerations — only the header + table are machine-owned
    scaling_path = os.path.join(ROOT, "SCALING.md")
    appendix = ""
    if os.path.exists(scaling_path):
        old = open(scaling_path).read()
        idx = old.find("\n## ")
        if idx != -1:
            appendix = old[idx:]
    with open(scaling_path, "w") as f:
        f.write("\n".join(lines) + "\n" + appendix)
    # bench.py attaches this to its one-line output so the driver's
    # BENCH_r{N}.json carries the measured decade
    with open(json_path, "w") as f:
        json.dump(payload, f)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
