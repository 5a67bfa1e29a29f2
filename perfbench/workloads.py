"""The workloads. Each is a closed loop from one client thread:
``setup`` makes and stages the seeded inputs and warms the path up,
``op`` runs one timed operation, and ``check`` (after the timed
region) returns the operations whose output was wrong.

Spans name the engine module and function each call goes into. Spark
is lazy, so a span wraps the call that makes the work run (a drain, a
pin, a write or a collect); a lazy operator's work lands in the span
that materialises it.
"""

from __future__ import annotations

import gc
import glob
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs


# per-layer metric prefixes every workload emits
COMMON_LAYERS = ("session", "leaked_rdds", "process", "trace")


class Workload:
    name = ""
    setup_ops = 0  # checked operations that run in set-up
    layer_prefixes: tuple[str, ...] = ()  # per-layer metrics this one emits

    @classmethod
    def owns(cls, metric: str) -> bool:
        """Whether a per-layer metric must come out of this workload's
        traced run; the other workload's metrics read 0 here."""
        return any(metric == p or metric.startswith(p + ".")
                   for p in COMMON_LAYERS + cls.layer_prefixes)

    def __init__(self, spark, tracer, work: str, seed: int, size: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = size
        self.ops: list[dict] = []  # one record per timed operation
        self.input_bytes = 0

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, phase: str) -> dict:
        """Run operation ``i``; return at least ``ms`` and ``items``."""
        raise NotImplementedError

    def check(self) -> set[int]:
        """Indices of the wrong timed operations; negative indices mark
        wrong set-up operations."""
        raise NotImplementedError

    def report(self) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures, for the printed report."""
        return {}

    def layers(self, spans: list, progress: list[dict]) -> dict[str, float]:
        """Workload-specific per-layer figures from the traced timed
        operations' spans and streaming progress."""
        return {}


def _p50(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None when the run has too few samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # zero-based rank with ten samples above it
    return 100.0 * (k + 1) / n, sorted(xs)[k]


# --- lakehouse -----------------------------------------------------------


class Lakehouse(Workload):
    name = "lakehouse"
    layer_prefixes = ("streaming", "plans.gold", "sources.delta_io", "gold")

    def setup(self) -> None:
        from eco_pulse_lakehouse_spark.streaming.pipeline import (
            parse_json_envelope,
            read_file_stream,
            to_silver,
        )

        w = self.work
        self.bronze_f = os.path.join(w, "bronze", "fires")
        self.bronze_w = os.path.join(w, "bronze", "weather")
        self.silver_f = os.path.join(w, "silver", "fires")
        self.silver_w = os.path.join(w, "silver", "weather")
        self.gold = os.path.join(w, "gold", "fire_risk_alerts")
        for d in (self.bronze_f, self.bronze_w):
            os.makedirs(d)  # the file streams need their source to exist
        self.gen = inputs.LakehouseGen(self.seed, self.size["fires_per_batch"])
        self.batches: list[inputs.FireBatch] = []
        self.batch_op: list[int] = []  # operation index of each batch
        self.silver_files: list[list[str]] = []
        self.dashboards: list[dict] = []
        self._seen_files: set[str] = set()

        def silver(src, schema, keys):
            raw = read_file_stream(self.spark, src, "value STRING", fmt="text",
                                   max_files_per_trigger=1)
            ev = parse_json_envelope(raw, "value", schema).withColumn(
                "event_time", F.timestamp_seconds("timestamp"))
            return to_silver(ev, "event_time", keys)

        self.fires_stream = silver(self.bronze_f, inputs.FIRE_SCHEMA,
                                   ["event_time", "lat", "lon"])
        self.weather_stream = silver(self.bronze_w, inputs.WEATHER_SCHEMA,
                                     ["event_time", "location_id"])
        self.setup_ops = self.size["warmup"]  # warm-up cycles are checked too
        self.gold_before = {"gold_rows": 0}  # gold table when timing starts
        for i in range(self.size["warmup"]):
            self.gold_before = self.op(-1 - i, "warmup")

    def op(self, i: int, phase: str) -> dict:
        from eco_pulse_lakehouse_spark.plans.gold import run_gold_cycle
        from eco_pulse_lakehouse_spark.sources.delta_io import read_table
        from eco_pulse_lakehouse_spark.streaming.pipeline import run_to_parquet

        span = self.tracer.span
        cycle = len(self.batches)
        b = self.gen.batch(cycle)
        b.created_at = time.time()
        t0 = time.perf_counter()
        name = f"batch-{cycle:05d}.json"
        self.input_bytes += inputs.land_lines(b.fire_lines, self.bronze_f, name)
        self.input_bytes += inputs.land_lines(b.weather_lines, self.bronze_w, name)
        ck = os.path.join(self.work, "checkpoints")
        with span("streaming.ingest", phase):
            run_to_parquet(self.fires_stream, self.silver_f,
                           os.path.join(ck, "fires"))
            run_to_parquet(self.weather_stream, self.silver_w,
                           os.path.join(ck, "weather"))
        files = sorted(set(glob.glob(os.path.join(self.silver_f, "*.parquet")))
                       - self._seen_files)
        self._seen_files.update(files)
        with span("plans.gold.run_gold_cycle", phase):
            fires = self.spark.read.parquet(*files)
            run_gold_cycle(fires, read_table(self.spark, self.silver_w),
                           self.gold, self.spark)
        t1 = time.perf_counter()
        with span("sources.delta_io.read_table", phase):
            g = read_table(self.spark, self.gold)
            risk = g.groupBy("risk_level").count().collect()
            latest = g.orderBy(F.col("timestamp").desc()) \
                .limit(checks.LATEST_N).collect()
            per_station = g.groupBy("weather_station").count().collect()
        t2 = time.perf_counter()
        fresh_ms = (time.time() - b.created_at) * 1000.0
        self.batches.append(b)
        self.batch_op.append(i)
        self.silver_files.append(files)
        dash = {
            "risk_counts": {r[0]: r[1] for r in risk},
            "per_station": {r[0]: r[1] for r in per_station},
            "latest": [r.asDict() for r in latest],
        }
        self.dashboards.append(dash)
        events = len(b.fire_lines) + len(b.weather_lines)
        return {
            "ms": fresh_ms,
            "items": events,
            "wall_ms": (t2 - t0) * 1000.0,
            "dashboard_ms": (t2 - t1) * 1000.0,
            "gold_rows": sum(dash["risk_counts"].values()),
            "gold_bytes": sum(os.path.getsize(f) for f in glob.glob(
                os.path.join(self.gold, "*", "*.parquet"))),
        }

    def check(self) -> set[int]:
        silver = [
            pd.concat([pq.read_table(f).to_pandas() for f in files])
            if files else pd.DataFrame(columns=checks.FIRE_COLS)
            for files in self.silver_files
        ]
        weather = pd.concat([
            pq.read_table(f).to_pandas()
            for f in glob.glob(os.path.join(self.silver_w, "*.parquet"))
        ])
        gold = pd.concat([
            pq.read_table(f).to_pandas()
            for f in glob.glob(os.path.join(self.gold, "*", "*.parquet"))
        ])
        failed = checks.lakehouse(self.batches, silver, weather, gold,
                                  self.dashboards)
        return {self.batch_op[k] for k in failed}

    def report(self):
        ops = self.ops
        total_s = sum(o["wall_ms"] for o in ops) / 1000.0
        return {
            "freshness_ms_p50": (_p50([o["ms"] for o in ops]), "ms"),
            "ingest_events_per_s": (sum(o["items"] for o in ops) / total_s, "1/s"),
            "dashboard_ms_p50": (_p50([o["dashboard_ms"] for o in ops]), "ms"),
        }

    def layers(self, spans, progress):
        out = {}
        med = statistics.median
        ingest = [s for s in spans if s.name == "streaming.ingest"]
        if ingest:
            per_cycle = []
            for s in ingest:
                runs = [[p for p in progress if p["run_id"] == r]
                        for r in s.stream_runs]
                last = [max(ps, key=lambda p: p["batch_id"]) for ps in runs if ps]
                per_cycle.append({
                    "batches": sum(len(ps) for ps in runs),
                    "state_rows": sum(p["state_rows"] for p in last),
                    "state_bytes": sum(p["state_bytes"] for p in last),
                    "late": sum(p["late_dropped"] for ps in runs for p in ps),
                })
            data_ms = [p["trigger_ms"] for s in ingest for p in progress
                       if p["run_id"] in s.stream_runs and p["rows"] > 0]
            out["streaming.batch_ms_p50"] = med(data_ms) if data_ms else 0.0
            for k in ("batches", "state_rows", "state_bytes"):
                out[f"streaming.{k}"] = med(c[k] for c in per_cycle)
            out["streaming.late_rows_dropped"] = med(c["late"] for c in per_cycle)

        # bytes the cycle wrote over the bytes of the rows it added (at
        # the gold table's mean bytes per row): the partitions a cycle
        # touches are rewritten whole
        amp = []
        for s in spans:
            if s.name != "plans.gold.run_gold_cycle":
                continue
            now = self.ops[s.op]
            prev = self.ops[s.op - 1] if s.op > 0 else self.gold_before
            if "gold_rows" in now and "gold_rows" in prev \
                    and now["gold_rows"] > prev["gold_rows"]:
                new_rows = now["gold_rows"] - prev["gold_rows"]
                new_bytes = new_rows * now["gold_bytes"] / now["gold_rows"]
                amp.append(s.counters["output_bytes"] / new_bytes)
        if amp:
            out["gold.write_amplification"] = med(amp)
        return out


# --- serving -------------------------------------------------------------


class Serving(Workload):
    """A corpus node: set-up curates a seeded corpus (minhash dedup
    candidates and the data-factory manifest, written out), pins the
    serving indexes over it, and then one client sends request batches
    of 8 queries to the hybrid keyword + dense serving plan."""

    name = "serving"
    layer_prefixes = ("operators.dedup", "plans.data_factory",
                      "operators.retrieval", "plans.rag_context",
                      "plans.hybrid_serving")
    BATCH = 8
    setup_ops = 1  # the curation pass, checked with the timed batches

    def setup(self) -> None:
        from eco_pulse_lakehouse_spark.operators.dedup import minhash_lsh_pairs
        from eco_pulse_lakehouse_spark.operators.retrieval import (
            bm25_shared_stats,
            term_postings,
        )
        from eco_pulse_lakehouse_spark.plans.data_factory import (
            data_factory_manifest,
        )
        from eco_pulse_lakehouse_spark.plans.rag_context import int8_store

        span = self.tracer.span
        self.corpus = inputs.corpus(self.seed, self.size["docs"])
        docs_path = os.path.join(self.work, "documents.parquet")
        emb_path = os.path.join(self.work, "embeddings.parquet")
        self.input_bytes = inputs.write_parquet(self.corpus.docs, docs_path)
        n_vecs = self.size["vecs"]
        self.input_bytes += inputs.write_parquet(
            inputs.embeddings(self.seed, n_vecs), emb_path)
        self.queries = inputs.serving_queries(self.seed, n_vecs, n_vecs)
        raw = self.spark.read.parquet(docs_path)

        t0 = time.perf_counter()
        with span("operators.dedup.minhash_lsh_pairs", "setup"):
            self.pairs = {tuple(r) for r in
                          minhash_lsh_pairs(raw, "doc_id", "text").collect()}
        self.manifest = os.path.join(self.work, "manifest")
        with span("plans.data_factory.data_factory_manifest", "setup"):
            data_factory_manifest(raw).write.parquet(self.manifest)
        self.curation_s = time.perf_counter() - t0

        self.docs = raw.select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        self.emb = self.spark.read.parquet(emb_path)
        with span("operators.retrieval.term_postings", "setup"):
            self.postings = term_postings(self.docs, "doc_id", "text") \
                .localCheckpoint(eager=True)
        with span("plans.rag_context.int8_store", "setup"):
            self.store = int8_store(self.emb).localCheckpoint(eager=True)
        with span("operators.retrieval.bm25_shared_stats", "setup"):
            self.stats = bm25_shared_stats(self.postings, "doc_id")
        self.sent: list[list[tuple]] = []  # every batch, warm-up included
        # operation index -> (queries, result rows), timed batches only
        self.timed: dict[int, tuple[list, list]] = {}
        for i in range(self.size["warmup"]):
            self.op(-1 - i, "warmup")

    def _serve(self, queries):
        from eco_pulse_lakehouse_spark.plans.hybrid_serving import hybrid_serving

        return [tuple(r) for r in hybrid_serving(
            self.docs, self.emb, queries, postings=self.postings,
            quantized=self.store, shared_stats=self.stats).collect()]

    def op(self, i: int, phase: str) -> dict:
        k = len(self.sent) * self.BATCH
        batch = self.queries[k:k + self.BATCH]
        if len(batch) < self.BATCH:
            raise RuntimeError("query supply exhausted; raise size['vecs']")
        t0 = time.perf_counter()
        with self.tracer.span("plans.hybrid_serving.hybrid_serving", phase):
            rows = self._serve(batch)
        ms = (time.perf_counter() - t0) * 1000.0
        self.sent.append(batch)
        if i >= 0:
            self.timed[i] = (batch, rows)
        return {"ms": ms, "items": len(batch)}

    def check(self) -> set[int]:
        import __spark_entry__

        ops = sorted(self.timed)
        one_shot = self._serve([q for i in ops for q in self.timed[i][0]])
        wrong = checks.serving([[q for q, _ in self.timed[i][0]] for i in ops],
                               [self.timed[i][1] for i in ops], one_shot)
        failed = {ops[k] for k in wrong}
        oracle = __spark_entry__.oracle_sql()["flagship_data_factory"]
        expected = checks.curation_expected(self.corpus.docs.to_pandas(), oracle)
        manifest = pq.read_table(self.manifest).to_pandas()
        if checks.curation(expected, [manifest], self.corpus.exact_dup_pairs,
                           [self.pairs]):
            failed.add(-1)  # the set-up curation pass
        return failed

    def report(self):
        # every query of a batch waits for the whole batch
        per_query = [o["ms"] for o in self.ops for _ in range(self.BATCH)]
        total_s = sum(o["ms"] for o in self.ops) / 1000.0
        out = {
            "serve_ms_p50": (_p50(per_query), "ms"),
            "serve_qps": (sum(o["items"] for o in self.ops) / total_s, "1/s"),
            "curation_docs_per_s": (
                self.corpus.docs.num_rows / self.curation_s, "1/s"),
        }
        t = tail(per_query)
        if t is not None:
            out[f"serve_ms_tail(p{t[0]:.1f},n={len(per_query)})"] = (t[1], "ms")
        return out


WORKLOADS = {w.name: w for w in (Lakehouse, Serving)}


def persistent_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs (pins and local checkpoints) still
    registered, after a collection on both sides so that dropped
    references get cleaned first."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
