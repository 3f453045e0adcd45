"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare(spark)``: set-up a user pays once per session (timed as
  ``setup_s``);
- ``reference(spark)``: expected results for the output checks,
  computed once, untimed;
- ``run(spark)``: one closed-loop request, timed as ``run_s``;
- ``check(spark, result)``: verifies that request's output, untimed;
  returns a list of mismatches;
- ``reset(spark)``: isolation between requests, untimed.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import numpy as np
import pandas as pd

from inputs import SIZES


def clear_persisted(spark) -> None:
    """Drop persisted RDDs and cached plans, so a repeated plan is
    computed again instead of read from the previous request's cache."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)
    spark.catalog.clearCache()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _velocity(keys: np.ndarray, t: np.ndarray, window: int) -> np.ndarray:
    """Other same-key events with time in (t - window, t], per row: one
    sorted array of (key code, time) composites, so a window never spans
    two keys."""
    codes = pd.factorize(keys)[0].astype(np.int64)
    comp = (codes << 33) + t
    s = np.sort(comp)
    return np.searchsorted(s, comp, side="right") - np.searchsorted(s, comp - window, side="right") - 1


class Workload:
    name = ""

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.work = work
        self.sizes = SIZES[self.name]

    def prepare(self, spark) -> None:
        pass

    def reference(self, spark) -> None:
        pass

    def reset(self, spark) -> None:
        clear_persisted(spark)

    def extra(self, times: list[float], results: list) -> dict:
        """Workload-specific end-to-end metrics over the timed requests."""
        return {}


# ------------------------------------------------------------------ fraud


class FraudPipeline(Workload):
    """``Processor.run_pipeline`` with SMOTE on the reference CSVs, then
    both bundles written to parquet."""

    name = "fraud_pipeline"

    def prepare(self, spark) -> None:
        import yaml

        feat = os.path.join(self.work, "features.yaml")
        with open(feat, "w") as fh:
            yaml.safe_dump(
                {
                    "numerical": [
                        "purchase_value", "age", "time_since_signup_seconds",
                        "time_since_signup_hours", "user_transactions_24h",
                        "device_transactions_24h", "ip_transactions_24h",
                    ],
                    "categorical": [
                        "source", "browser", "sex", "hour_of_day", "day_of_week", "country",
                    ],
                },
                fh,
            )
        self.config = {
            "data_paths": {
                "fraud_data": os.path.join(self.inputs, "Fraud_Data.csv"),
                "ip_to_country": os.path.join(self.inputs, "IpAddress_to_Country.csv"),
                "creditcard_data": os.path.join(self.inputs, "creditcard.csv"),
            },
            "feature_config_path": feat,
            "test_size": 0.2,
            "random_state": 42,
            "missing_value_strategy": "drop",
            "imbalance_strategy": "smote",
        }
        self.out = os.path.join(self.work, "bundles")

    def reference(self, spark) -> None:
        from fraud_detection_project_spark.ml.split import _KNUTH

        fraud = pd.read_csv(self.config["data_paths"]["fraud_data"])
        card = pd.read_csv(self.config["data_paths"]["creditcard_data"])
        test = (fraud["user_id"].astype("int64") * _KNUTH + 42) % 100 >= 80
        self.fraud_test = fraud.loc[test, "class"].value_counts().to_dict()
        self.fraud_total = fraud["class"].value_counts().to_dict()
        self.card_total = card["Class"].value_counts().to_dict()
        self.column_errors = self._check_columns(spark, fraud)

    def _check_columns(self, spark, fraud: pd.DataFrame) -> list[str]:
        """Geolocation and velocity columns of the pipeline's feature step
        against a pandas recomputation on the generated CSVs."""
        from fraud_detection_project_spark.catalog import load_csv_datasets
        from fraud_detection_project_spark.operators.joins import geolocate
        from fraud_detection_project_spark.pipeline.features import engineer_fraud_features
        from fraud_detection_project_spark.pipeline.processor import Processor

        clean = Processor(spark, self.config).clean_datasets(
            load_csv_datasets(spark, dict(self.config["data_paths"]))
        )
        eng = engineer_fraud_features(geolocate(clean["fraud_data"], clean["ip_to_country"]))
        cols = ["user_id", "country", "user_transactions_24h",
                "device_transactions_24h", "ip_transactions_24h"]
        got = eng.select(*cols).toPandas().sort_values("user_id").reset_index(drop=True)

        dim = pd.read_csv(self.config["data_paths"]["ip_to_country"])
        lo = np.floor(dim["lower_bound_ip_address"].to_numpy()).astype(np.int64)
        order = np.argsort(lo)
        lo, hi = lo[order], dim["upper_bound_ip_address"].to_numpy()[order]
        country = dim["country"].to_numpy()[order]
        f = fraud.sort_values("user_id").reset_index(drop=True)
        ip = np.floor(f["ip_address"].to_numpy()).astype(np.int64)
        j = np.searchsorted(lo, ip, side="right") - 1
        hit = (j >= 0) & (ip <= hi[np.maximum(j, 0)])
        want_country = np.where(hit, country[np.maximum(j, 0)], "Unknown")
        t = pd.to_datetime(f["purchase_time"]).astype("int64").to_numpy() // 10**9
        errors = []
        if len(got) != len(f) or not (got["user_id"].to_numpy() == f["user_id"].to_numpy()).all():
            return [f"fraud rows: {len(got)} != {len(f)}"]
        if not (got["country"].to_numpy() == want_country).all():
            errors.append("geolocated country differs from pandas recomputation")
        for col, key in (("user_transactions_24h", "user_id"),
                         ("device_transactions_24h", "device_id"),
                         ("ip_transactions_24h", "ip_address")):
            want = _velocity(f[key].to_numpy(), t, 86_400)
            if not (got[col].to_numpy() == want).all():
                errors.append(f"{col} differs from pandas recomputation")
        return errors

    def reset(self, spark) -> None:
        clear_persisted(spark)
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark):
        from fraud_detection_project_spark.pipeline.processor import Processor

        bundles = Processor(spark, self.config).run_pipeline()
        for name, b in bundles.items():
            b.write(os.path.join(self.out, name))
        return {name: (b.label_col, b.feature_names) for name, b in bundles.items()}

    def check(self, spark, result) -> list[str]:
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        errors = list(self.column_errors)
        if set(result) != {"fraud", "creditcard"}:
            return errors + [f"bundles: {sorted(result)}"]
        for name, (label, names) in result.items():
            counts = {}
            for part in ("train", "test"):
                df = spark.read.parquet(os.path.join(self.out, name, part))
                rows = df.groupBy(label).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min(F.size(vector_to_array("features"))).alias("wmin"),
                    F.max(F.size(vector_to_array("features"))).alias("wmax"),
                ).collect()
                counts[part] = {r[label]: r["n"] for r in rows}
                for r in rows:
                    if r["wmin"] != len(names) or r["wmax"] != len(names):
                        errors.append(f"{name}/{part}: width {r['wmin']}..{r['wmax']} != {len(names)}")
            train, test = counts["train"], counts["test"]
            # SMOTE's quota law: the minority is synthesised up to the
            # majority count exactly, and the majority is never touched
            if len(train) != 2 or train.get(0) != train.get(1):
                errors.append(f"{name}: train classes not balanced: {train}")
            total = self.fraud_total if name == "fraud" else self.card_total
            if train.get(0, 0) + test.get(0, 0) != total.get(0):
                errors.append(f"{name}: majority rows {train.get(0)} + {test.get(0)} != {total.get(0)}")
            if name == "fraud" and test != self.fraud_test:
                errors.append(f"fraud: test split {test} != recomputed {self.fraud_test}")
            if name == "creditcard" and test.get(1, 0) > total.get(1, 0):
                errors.append(f"creditcard: test has more positives than the input: {test}")
        return errors


# --------------------------------------------------------------- headline

HEADLINE = {
    "q1": "pricing_summary",
    "q2": "geolocate_events_value",
    "q3": "velocity_features_3keys",
    "q4": "cleaning_chain",
}
# aggregate fingerprints for the two fact-sized results, identical SQL on
# both engines
_FINGERPRINT = {
    "q2": "SELECT bucket_brand, COUNT(*) AS n, SUM(event_id) AS s FROM r GROUP BY bucket_brand",
    "q3": (
        "SELECT COUNT(*) AS n, SUM(user_txn_24h) AS u, SUM(device_txn_24h) AS d, "
        "SUM(ip_txn_24h) AS i, SUM(event_id * user_txn_24h) AS eu, "
        "SUM(event_id * device_txn_24h) AS ed, SUM(event_id * ip_txn_24h) AS ei FROM r"
    ),
}


def _rows(records) -> list[tuple]:
    return sorted(tuple(x.item() if hasattr(x, "item") else x for x in r) for r in records)


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Equal rows, floats within one unit of the oracles' last rounded
    digit: each engine sums in its own order, so a value close to a
    rounding boundary can round either way."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1.01e-6):
                    return False
            elif x != y:
                return False
    return True


class HeadlineParquet(Workload):
    """Bench q1–q5 over generated lineitem/part/events parquet."""

    name = "headline_parquet"

    def reference(self, spark) -> None:
        import duckdb

        from fraud_detection_project_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        for t in ("lineitem", "part", "events"):
            p = os.path.join(self.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.want = {}
        for q, name in HEADLINE.items():
            sql = ORACLE_SQL[name]
            if q in _FINGERPRINT:
                sql = f"WITH r AS ({sql}) " + _FINGERPRINT[q]
            self.want[q] = _rows(con.execute(sql).fetchall())
        con.close()

    def run(self, spark):
        import bench
        from fraud_detection_project_spark.queries import QUERIES

        times, outs = {}, {}
        builders = {q: (lambda n=n: QUERIES[n](spark, self.inputs)) for q, n in HEADLINE.items()}
        builders["q5"] = lambda: bench.ml_prep_pipeline(spark, self.inputs)
        for q, build in builders.items():
            t0 = time.perf_counter()
            df = build()
            bench.consume(df)
            times[q] = time.perf_counter() - t0
            outs[q] = df
        return times, outs

    def check(self, spark, result) -> list[str]:
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        _, outs = result
        errors = []
        for q in HEADLINE:
            df = outs[q]
            if q in _FINGERPRINT:
                df.createOrReplaceTempView("r")
                got = _rows(spark.sql(_FINGERPRINT[q]).collect())
            else:
                got = _rows(df.collect())
            if not _same(got, self.want[q]):
                errors.append(f"{q} ({HEADLINE[q]}) differs from the DuckDB oracle")
        r = outs["q5"].agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set("label").alias("labels"),
            F.min(F.size(vector_to_array("features"))).alias("wmin"),
            F.max(F.size(vector_to_array("features"))).alias("wmax"),
        ).first()
        if not (0 < r["n"] <= self.sizes["events_rows"]) or sorted(r["labels"]) != [0, 1] \
                or r["wmin"] != r["wmax"] or not r["wmin"]:
            errors.append(f"q5 (ml_prep_pipeline) shape: {r}")
        return errors

    def extra(self, times: list[float], results: list) -> dict:
        out = {}
        for q in ("q1", "q2", "q3", "q4", "q5"):
            out[f"{q}_s"] = (float(np.median([r[0][q] for r in results])), "s")
        return out


# ---------------------------------------------------------------- stream


class StreamScoring(Workload):
    """Event-time-ordered parquet files → streaming_velocity →
    score_stream → parquet sink, drained with availableNow into a fresh
    checkpoint every request. The model is fit during set-up. Runs alone
    as ``stream_scoring`` and, on a smaller backlog, as part of
    ``graph_text``."""

    name = "stream_scoring"

    def __init__(self, inputs: str, work: str, sizes: dict | None = None):
        super().__init__(inputs, work)
        if sizes is not None:
            self.sizes = sizes

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.ml.prep import build_feature_pipeline
        from fraud_detection_project_spark.operators.windows import rolling_count_24h

        self.src = os.path.join(self.inputs, "stream")
        batch = spark.read.parquet(self.src)
        self.schema = batch.schema
        self.batch = rolling_count_24h(
            batch, "user_id", F.expr("unix_micros(ts)"), "v24h", tick=1_000_000
        )
        self.model = build_feature_pipeline(["value", "v24h"], ["event_type"]).fit(self.batch)

    def reference(self, spark) -> None:
        self.batch.createOrReplaceTempView("r")
        self.want = tuple(spark.sql(
            "SELECT COUNT(*), SUM(v24h), SUM(v24h * event_id) FROM r"
        ).first())

    def reset(self, spark) -> None:
        clear_persisted(spark)
        self.ckpt = fresh_dir(os.path.join(self.work, "ckpt"))
        self.sink = os.path.join(self.work, "sink")
        shutil.rmtree(self.sink, ignore_errors=True)

    def run(self, spark) -> tuple[list[dict], float]:
        """The drained query's progress reports and the drain's seconds."""
        import json

        from fraud_detection_project_spark.streaming.scoring import score_stream
        from fraud_detection_project_spark.streaming.velocity import streaming_velocity

        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.sizes["max_files_per_trigger"])
            .parquet(self.src)
        )
        scored = score_stream(
            streaming_velocity(stream, "user_id", ts_col="ts", out_col="v24h"),
            self.model,
            select=["event_id", "user_id", "ts", "v24h", "features"],
        )
        q = (
            scored.writeStream.format("parquet")
            .option("path", self.sink)
            .option("checkpointLocation", self.ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [json.loads(p.json) for p in q.recentProgress], time.perf_counter() - t0

    def check(self, spark, result: tuple[list[dict], float]) -> list[str]:
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        progress, _ = result
        spark.read.parquet(self.sink) \
            .withColumn("w", F.size(vector_to_array("features"))).createOrReplaceTempView("s")
        got = spark.sql(
            "SELECT COUNT(*), SUM(v24h), SUM(v24h * event_id), MIN(w), MAX(w) FROM s"
        ).first()
        errors = []
        if tuple(got[:3]) != self.want:
            errors.append(f"streamed velocity {tuple(got[:3])} != batch rolling_count_24h {self.want}")
        dropped = sum(late_rows(p) for p in progress)
        if dropped:
            errors.append(f"{dropped} rows dropped as late")
        if got[3] != got[4] or not got[3]:
            errors.append(f"feature width {got[3]}..{got[4]}")
        return errors

    def extra(self, times: list[float], drains: list[tuple[list[dict], float]]) -> dict:
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for prog, _ in drains for p in prog
                if p.get("numInputRows")]
        return {
            "stream_rows_per_s": (
                float(np.median([sum(p["numInputRows"] for p in prog) / dt for prog, dt in drains])),
                "rows/s",
            ),
            "drain_s": (float(np.median([dt for _, dt in drains])), "s"),
            "trigger_s_p50": (float(np.percentile(trig, 50)), "s"),
            "triggers": (len(trig), "count"),
        }


def late_rows(progress: dict) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0) for op in progress.get("stateOperators", []))


# ----------------------------------------------------------------- graph


def _rouge2(cand: str, ref: str) -> tuple:
    def grams(text):
        toks = text.lower().split()
        out = {}
        for g in zip(toks, toks[1:]):
            out[g] = out.get(g, 0) + 1
        return out

    c, r = grams(cand), grams(ref)
    ct, rt = sum(c.values()), sum(r.values())
    if not ct or not rt:
        return None
    ov = sum(min(n, r.get(g, 0)) for g, n in c.items())
    p, rc = ov / ct, ov / rt
    f1 = 2 * p * rc / (p + rc) if p + rc > 0 else 0.0
    return ov, ct, rt, p, rc, f1


class GraphText(Workload):
    """Forced-distributed connected components and k-core, ROUGE-2 over
    near-duplicate document pairs, and a two-trigger ``stream_scoring``
    drain: the workload whose time goes to per-round driver work. The
    drain rides here rather than in a run of its own because each run
    pays a JVM launch and a cold start, and a fourth workload's runs do
    not fit the benchmark's time limit."""

    name = "graph_text"

    def __init__(self, inputs: str, work: str):
        super().__init__(inputs, work)
        self.stream = StreamScoring(inputs, work, self.sizes["stream"])

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        self.stream.prepare(spark)
        op = spark.read.parquet(os.path.join(self.inputs, "order_parts.parquet"))
        self.order_parts = op
        # parts get their own id range so order and part nodes never collide
        self.edges = op.select(
            F.col("order_id").alias("src"), (F.col("part_id") + 10_000_000).alias("dst")
        )
        self.docs = spark.read.parquet(os.path.join(self.inputs, "documents.parquet"))
        off = self.sizes["pair_offset"]
        self.pairs = spark.range(0, self.sizes["docs"] - off).select(
            F.col("id").alias("cand_id"), (F.col("id") + off).alias("ref_id")
        )

    def reference(self, spark) -> None:
        from fraud_detection_project_spark.operators.dedup import connected_components
        from fraud_detection_project_spark.operators.graph import co_occurrence_edges, k_core

        self.want_cc = sorted(map(tuple, connected_components(self.edges).collect()))
        self.want_core = sorted(
            map(tuple, k_core(co_occurrence_edges(self.order_parts, "order_id", "part_id")).collect())
        )
        texts = dict(map(tuple, self.docs.select("doc_id", "text").collect()))
        off = self.sizes["pair_offset"]
        sample = random.Random(0).sample(range(self.sizes["docs"] - off), 25)
        self.want_rouge = {i: _rouge2(texts[i], texts[i + off]) for i in sample}
        self.stream.reference(spark)

    def reset(self, spark) -> None:
        self.stream.reset(spark)

    def run(self, spark):
        from fraud_detection_project_spark.operators.dedup import connected_components
        from fraud_detection_project_spark.operators.graph import co_occurrence_edges, k_core
        from fraud_detection_project_spark.operators.texteval import rouge_n

        t0 = time.perf_counter()
        cc = connected_components(self.edges, local_threshold_edges=0).collect()
        t1 = time.perf_counter()
        core = k_core(
            co_occurrence_edges(self.order_parts, "order_id", "part_id"),
            local_threshold_edges=0,
        ).collect()
        t2 = time.perf_counter()
        rouge = rouge_n(self.pairs, self.docs, n=2).collect()
        parts = {"cc_s": t1 - t0, "core_s": t2 - t1, "rouge_s": time.perf_counter() - t2}
        return cc, core, rouge, self.stream.run(spark), parts

    def check(self, spark, result) -> list[str]:
        cc, core, rouge, drain, _ = result
        errors = self.stream.check(spark, drain)
        if sorted(map(tuple, cc)) != self.want_cc:
            errors.append("distributed connected_components != local endgame")
        if sorted(map(tuple, core)) != self.want_core:
            errors.append("distributed k_core != local endgame")
        if len(rouge) != self.sizes["docs"] - self.sizes["pair_offset"]:
            errors.append(f"rouge rows {len(rouge)}")
        by_cand = {r["cand_id"]: r for r in rouge}
        for i, want in self.want_rouge.items():
            r = by_cand.get(i)
            got = None if r is None or r["overlap"] is None else (
                r["overlap"], r["cand_total"], r["ref_total"], r["precision"], r["recall"], r["f1"]
            )
            if (got is None) != (want is None) or (
                got is not None and (got[:3] != want[:3]
                                     or any(not math.isclose(a, b, rel_tol=1e-9) for a, b in zip(got[3:], want[3:])))
            ):
                errors.append(f"rouge pair ({i}, {i + self.sizes['pair_offset']}): {got} != {want}")
        return errors

    def extra(self, times: list[float], results: list) -> dict:
        # two triggers, one of them the query's start-up: no per-trigger
        # figure (see inputs.SMALL_STREAM)
        out = {k: v for k, v in self.stream.extra(times, [r[3] for r in results]).items()
               if not k.startswith("trigger_s")}
        for k in results[0][4]:
            out[k] = (float(np.median([r[4][k] for r in results])), "s")
        return out


WORKLOADS = {w.name: w for w in (FraudPipeline, HeadlineParquet, StreamScoring, GraphText)}
