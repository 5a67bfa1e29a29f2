#!/usr/bin/env python
"""Headline benchmark — BASELINE.md §2 protocol.

Runs the flagship pipeline plus representative corpus queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], 1 untimed warm-up + 5 timed runs per
query, full materialization through the noop sink (no driver
collect). Cache hygiene between entries: every localCheckpoint pin /
cached table a query created is released before the next one is
timed (release_cached_state — VERDICT r11 item 1).

Output protocol (VERDICT r11 item 2 — the final line must fit the
driver's 2000-char stdout tail): an EARLY detail line + the
BENCH_DETAIL.json sidecar carry the full per-query p50/norm maps and
the p50/p95/min spread; the FINAL line is compact —

  {"metric": "...", "value": <headline total p50 sec>, "unit": "sec",
   "sf": <sf>, "value_norm": s, "value_norm_par": s,
   "queries": {<floor-16 subset only>: p50_sec, ...},
   "floor16": {"raw_sec": s, "ratio": x, "worst_query": ..., ...},
   "host_probe": {...}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_gold_risk",      # window → range join → CASE → project
    "a7_summary",              # TPC-H Q1 shape: 2-key groupBy, 7 aggs
    "j3_equi_join_3way",       # broadcast dim + shuffle fact joins
    "j2_range_join_grid",      # bucketed theta join (the 100 TB form)
    "j2_range_join_grid2",     # 2-D grid cells, ×9 probe replication
    "j2_range_join_band2",     # 2-D 2eps cells, ×4 half-aware probing
    "w1_latest_per_key",       # ranking window
    "w6_running_sum",          # frame window
    "x1_hash_dedup_key",       # sha256 content keys
    "x2_minhash_lsh",          # shingle → minhash → banded LSH join
    "x2_simhash",              # explode → 64 partial bit-sums → pack
    "x3_cosine_topk",          # brute-force vector top-k
    "x4_text_stats",           # tokenize/array analytics
    "tpch_q1",                 # SQL API: scan + 7-agg summary
    "tpch_q3",                 # SQL API: join top-k
    "tpch_q5",                 # SQL API: 5-way star join rollup
    "x2_ngram_jaccard",        # inverted-index exact Jaccard
    "o4_distributed_global_rank",  # range-partitioned total order
    "cat_bucketed_join_agg",   # zero-exchange fact join on bucketed catalog
    "t5_stream_dedup",         # streaming watermark+dedup drain
    "x4_bm25",                 # inverted-index BM25 query batch
    "x3_quantized_topk",       # int8 ADC scoring vs x3_cosine_topk
    "x3_pq_topk",              # 8-byte PQ codes + LUT ADC scoring
    "w16_sax_motif_pairs",     # ts motif: SAX bucket join + z-norm refine
    "a29_heavy_hitters",       # CMS candidate prefilter + exact recount
    "x3_semdedup",             # cluster-bucketed semantic near-dup prune
    "x2_dup_ngram_frac",       # cross-doc duplicate 4-gram profile
    # skew-guard pairs: each adversarial row (90% of keys collapsed
    # onto ONE hot key) must stay within ~2x of its uniform twin —
    # the BENCH-level proof the salting guards hold (VERDICT r03 #5)
    "skew1_salted_count",      # uniform twin
    "skew4_hot_key_count",     # adversarial: one hot agg key
    "skew3_salted_join",       # uniform twin
    "skew5_hot_key_join",      # adversarial: one hot join key
    # round-5 families (kept OUT of the comparable-16 floor subset)
    "x2_dup_span_removal",     # ExactSubstr tier: islands + anti join
    "x4_rrf_fusion",           # hybrid retrieval: BM25 + overlap + RRF
    "w29_holt_mase",           # forecast backtest: Holt fold + MASE
    "flagship_sensor_health",  # predictive gold mart (flagship #5)
    # round-6 families (also outside the comparable-16 floor subset)
    "w30_hw_seasonal",         # Holt-Winters seasonal fold per key
    # round-7 families (outside the floor subset)
    "x6_dsir_weights",         # DSIR hashed-ngram importance weights
    "x2_line_dedup",           # CCNet keep-first line dedup + rebuild
    "x1_soft_dedup",           # duplicate down-weighting window
    "x4_trigram_backoff",      # held-out stupid-backoff LM surprisal
    "x3_binary_quant_topk",    # 1-bit codes: hamming prefilter + rerank
    "flagship_curation_select",  # flagship #6: dedup→line-dedup→NB gate→DSIR
    "x2_prefix_filter_jaccard",  # PPJoin: rarest-prefix index, lossless
    "x6_budget_select",        # distributed-cumsum token-budget prefix
    "x6_k_anonymity",          # quasi-identifier suppression window
    # round-8 families (outside the floor subset)
    "x4_perplexity_buckets",   # CCNet per-lang terciles, distributed rank
    # round-9 families (outside the floor subset)
    "x4_nb_quality_gate",      # learned NB classifier train+score pass
    "x4_nb_lang_id",           # multiclass NB language-ID, held-out split
    "flagship_gold_risk_topk",  # k-nearest gold: bounded-output variant
    # round-10 families (outside the floor subset)
    "x4_nb_gate_sweep",        # NB threshold calibration table, one plan
    "x6_unimax_mixture",       # UniMax quota closed form + budget prefix
    "x4_prf_expansion",        # two-pass BM25 with PRF query expansion
    "x2_winnowing_pairs",      # MOSS local-min fingerprint equi-join
    "x8_hilbert_values",       # unrolled Hilbert xy->d projections
    "a32_ams_f2",              # 16 signed-sum sketches, one pass
    "flagship_search_serving",  # flagship #9: PRF -> RRF -> budget
    "x2_winnowing_bounded",    # hot-fingerprint capped winnowing
    "x4_rake_keyphrases",      # stopword-split degree/freq phrases
    "x5_image_phash",          # separable integer DCT perceptual hash
    # round-11 families
    "flagship_hybrid_serving",  # flagship #10: keyword+dense RRF serve
]

# Heavy never-benched families (VERDICT r05 item 8): timed ONCE per
# bench run (no warm-up median — these are minutes-scale iterative
# jobs) and recorded in BENCH_DETAIL only, so their cost is on
# record before anything regresses silently without inflating the
# headline total the floor comparison reads. t35 lives here too: a
# 4-micro-batch end-to-end pipeline drain (~50 s) is a once-per-run
# demo, not a repeat-timed query.
ONEOFF = [
    "x2_dedup_clusters",       # jaccard pairs -> iterative min-label CC
    "g1_pagerank",             # iterative out-degree power method
    "x7_pack_documents",       # per-shard sequential bin packing
    # x2_phonetic_blocking (the bare, uncomposed block key) was timed
    # through r07 as the measured contrast to its bounded replacement:
    # 25.9 s at sf0.1 vs 1.5 s bounded (frozen in SCALE.md). It cost
    # ~30% of the one-off budget per round with no new information —
    # dropped from the loop r08 (VERDICT r07 item 6); the entry +
    # oracle stay registered for correctness certification.
    "x2_phonetic_bounded",     # composed-key + capped blocks (scale form)
    "t35_stream_dedup_clusters",  # incremental CC over streamed pairs
    "x3_lsh_multiprobe",       # query-side probe fan-out ANN (r07)
    "x4_bpe_merges",           # 6-round vocab-loop tokenizer training (r07)
    "x4_wordpiece_merges",     # likelihood-scored merge variant (r08)
    "x4_sp_unigram_em",        # SentencePiece Viterbi + 1 hard-EM (r08)
    "flagship_tokenizer_pipeline",  # flagship #7: ppx gate -> WP -> counts
    "t37_stream_dsir",         # incremental importance-model drain (r07)
    "t38_stream_line_dedup",   # incremental keep-first line dedup drain
    "x2_canonical_per_cluster",  # CC + DSIR keep-best composition
    "t40_stream_wordpiece_infer",  # serve-side tokenizer stream drain (r09)
    "t41_stream_nb_gate",      # incremental NB classifier drain (r09)
    "t42_stream_gold_topk",    # per-batch k-NN gold alert drain (r09)
    "x3_mmr_rerank",           # 5-round greedy MMR re-rank (iterative, r09)
    "flagship_data_factory",   # flagship #8: the full quality ladder (r09)
    "flagship_rag_context",    # flagship #4 + MMR stage (iterative, r10)
    "t43_stream_rag_context",  # per-request-batch RAG serve drain (r10)
    "t44_stream_nb_gate_sweep",  # incremental calibration drain (r10)
    "t45_stream_decontaminate",  # ingest-screen decontamination drain (r10)
    "t46_stream_unimax",       # incremental mixture-manifest drain (r10)
    "t47_stream_search_serving",  # per-request keyword serve drain (r10)
    "x4_textrank_keywords",    # pagerank over word co-occurrence (r10)
    "flagship_data_factory_nb",  # factory #8b: learned DSIR target
    "t48_stream_winnowing",    # incremental fingerprint-index drain
    "t49_stream_hybrid_serving",  # per-request hybrid serve drain (r11)
    "x2_winnowing_clusters",   # MOSS pairs -> CC -> keep-canonical (r11,
    # iterative CC loop — the x2_canonical_per_cluster convention)
    "t50_stream_hybrid_index",  # dual-artifact ingest + serve drain (r11)
    "t51_stream_winnowing_clusters",  # streamed MOSS index -> CC ->
    # keep-best canonical (r12; iterative CC loop)
    "t52_stream_hybrid_loop",  # ingest BOTH artifacts + stream-served
    # requests — the full hybrid production loop (r12)
    "t53_stream_winnowing_incremental",  # quotient-CC label upkeep
    # over the MOSS tier — per-batch affected-component relabel (r12)
]


# The comparable-16 regression-floor subset (BASELINE.md §2 table):
# name -> round-1 baseline median (sec, sf0.1, probe≈0.55 host). Sum
# = 16.68 s, the 2x-gate denominator. Emitted in the FINAL line so
# the gate is machine-checkable without the full 60-query map.
FLOOR16 = {
    "flagship_gold_risk": 0.99,
    "a7_summary": 0.39,
    "j3_equi_join_3way": 0.85,
    "j2_range_join_grid": 0.32,
    "w1_latest_per_key": 0.45,
    "w6_running_sum": 0.48,
    "x1_hash_dedup_key": 0.12,
    "x2_minhash_lsh": 1.68,
    "x3_cosine_topk": 0.42,
    "x4_text_stats": 0.15,
    "tpch_q1": 0.92,
    "tpch_q3": 1.24,
    "x2_ngram_jaccard": 2.06,
    "o4_distributed_global_rank": 3.13,
    "tpch_q5": 1.77,
    "t5_stream_dedup": 1.71,
}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_cached_state(spark) -> None:
    """Between-query cache hygiene (VERDICT r11 item 1).

    Corpus operators pin shared builds with localCheckpoint
    (eager=True); a real cluster job releases the pins when the job
    ends, but bench's long-lived local JVM accumulated them across
    6 runs x 60 headline queries — storage pressure landing exactly
    on the late-order entries (the r11 a29/nb_lang_id/budget_select
    inflation). Unpersist every persistent RDD (the localCheckpoint
    blocks) and drop the table cache after each entry. Safe because
    no corpus fn memoizes a pinned frame across calls (grep-audited
    r12): every call rebuilds its pins from the parquet sources.

    Release is BLOCKING (unpersist(True)) so block removal cannot
    overlap the next entry's warm-up/timed runs, and a failure prints
    a one-line warning instead of silently reintroducing the r11
    late-entry inflation (ADVICE r12).
    """
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)
    except Exception as e:  # noqa: BLE001 — keep benching, but say so
        print(f"WARN release_cached_state: RDD unpersist failed: {e!r}",
              file=sys.stderr)
    try:
        spark.catalog.clearCache()
    except Exception as e:  # noqa: BLE001
        print(f"WARN release_cached_state: clearCache failed: {e!r}",
              file=sys.stderr)


def stage_silver(spark, sf_dir: str) -> tuple[str, float]:
    """Re-layout the raw tables into a multi-file silver copy.

    The driver's parquet files are single-row-group (one scan task no
    matter how many cores); a lakehouse's silver layer controls its
    own layout (SCALE.md "Scans & layout"). Splitting the big tables
    32 ways lifts scan-bound queries ~4x locally (tpch_q1 1.27s →
    0.33s) and is exactly what partitioned silver writes do at
    100 TB. Staging cost is reported separately in the JSON.
    """
    import shutil
    import tempfile

    from eco_pulse_lakehouse_spark.catalog import TABLES, load_table

    # big fact tables get the 32-way re-layout; events additionally
    # needs its NANOS→µs canonicalization, so it goes through Spark
    # regardless. Small dims are byte-copied — no job, no re-encode.
    respark = {"lineitem", "orders", "events", "documents", "embeddings"}
    stage = os.path.join(
        tempfile.gettempdir(), f"eco_pulse_bench_silver_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    t0 = time.perf_counter()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(stage, f"{t}.parquet")
        if t in respark:
            load_table(spark, sf_dir, t).repartition(32).write.parquet(dst)
        else:
            shutil.copyfile(src, dst)
    return stage, round(time.perf_counter() - t0, 3)


# Host-normalization reference (BASELINE.md §2, VERDICT r04 item 3):
# normalized timings answer "what would this query cost on a host
# where the 10M-iteration python loop takes REF_PY_LOOP seconds".
# The constant is arbitrary-but-FIXED (declared round 5, the first
# probed round) — cross-round comparisons of `queries_norm` cancel
# the host-speed swing that made r04's raw numbers look 1.7x worse.
REF_PY_LOOP = 0.55
# All-core companion (VERDICT r06 item 6): the single-core probe
# under-captures the throttle state Spark actually runs under (r06's
# 1.4x uniform "slowdown" was normalization artifact — the
# single-core probe sat at reference speed while the all-core state
# degraded). Declared from the r05/r06 recorded par_loop_sec band
# (0.83-0.91); FIXED henceforth. `value_norm_par` / the sidecar's
# `queries_norm_par` normalize by it; round-over-round sections
# should cite whichever normalization the three interleaved probes
# justify (stable py_loop + moving par_loop => trust par).
REF_PAR_LOOP = 0.87


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    probe_start = host_speed_probe()

    from eco_pulse_lakehouse_spark.session import get_session

    spark = get_session("eco-pulse-bench")

    import __spark_entry__ as entry

    qs = entry.queries()
    sf_dir, staging_sec = stage_silver(spark, sf_dir)

    # managed bucketed catalog (cat_bucketed_join_agg): build once up
    # front so the timing loop measures the query, not the re-layout
    from eco_pulse_lakehouse_spark.catalog import ensure_silver_database

    t0 = time.perf_counter()
    ensure_silver_database(spark, sf_dir)
    catalog_staging_sec = round(time.perf_counter() - t0, 3)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    # Order-independence check (VERDICT r11 item 8): with
    # SPARK_GRAFT_BENCH_SHUFFLE=<seed> the headline loop runs in a
    # seeded random order, so a floor-16 ratio measured shuffled can
    # be compared against the in-order run — if they diverge, some
    # query's timing depends on its position in the loop (cache
    # pressure / JVM state), not on its plan.
    headline = list(HEADLINE)
    shuffle_seed = os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE")
    if shuffle_seed:
        import random

        random.Random(int(shuffle_seed)).shuffle(headline)
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name in headline:
        fn = qs[name]
        materialize(fn(spark, sf_dir))  # warm-up (untimed)
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        p50 = statistics.median(runs)
        p95 = (
            statistics.quantiles(runs, n=100, method="inclusive")[94]
            if len(runs) > 1
            else runs[0]
        )
        timings[name] = round(p50, 3)
        spread[name] = {
            "p50": round(p50, 3),
            "p95": round(p95, 3),
            "min": round(min(runs), 3),
        }
        release_cached_state(spark)

    # interleaved probe (VERDICT r06 item 6): a mid-run sample between
    # the repeat-timed headline loop and the one-off families makes
    # intra-run host drift visible, not just the start/end endpoints
    probe_mid = host_speed_probe()

    oneoff: dict[str, float] = {}
    for name in ONEOFF:
        t0 = time.perf_counter()
        materialize(qs[name](spark, sf_dir))
        oneoff[name] = round(time.perf_counter() - t0, 3)
        release_cached_state(spark)

    latency = stream_latency_probe(spark, sf_dir)
    state = stream_state_probe(spark, sf_dir)
    probe_end = host_speed_probe()

    # Normalize by the MEAN of the start/mid/end single-core probes
    # (the host swings between minutes — memory:
    # host-speed-fluctuation); all raw probes are preserved so the
    # choice is auditable. The all-core normalization is carried
    # ALONGSIDE (never instead): the single-core probe can sit at
    # reference speed while the all-core throttle state — the one
    # Spark actually runs under — has moved (the r06 lesson).
    probes = (probe_start, probe_mid, probe_end)
    py_loop_mean = sum(p["py_loop_sec"] for p in probes) / len(probes)
    par_loop_mean = sum(p["par_loop_sec"] for p in probes) / len(probes)
    host_ratio = py_loop_mean / REF_PY_LOOP if py_loop_mean > 0 else 1.0
    host_ratio_par = (
        par_loop_mean / REF_PAR_LOOP if par_loop_mean > 0 else 1.0
    )

    total = round(sum(timings.values()), 3)
    timings_norm = {
        k: round(v / host_ratio, 3) for k, v in timings.items()
    }
    timings_norm_par = {
        k: round(v / host_ratio_par, 3) for k, v in timings.items()
    }
    # Floor-16 gate (BASELINE.md §2): per-query ratio vs the round-1
    # baseline median, worst individual ratio, and the subset total
    # vs the 16.68 s floor — computed here so the FINAL line carries
    # the gate verdict without the 60-query map (VERDICT r11 item 2:
    # the full map outgrew the driver's 2000-char stdout tail and
    # BENCH_r09..r11 recorded "parsed": null).
    floor_total = round(sum(FLOOR16.values()), 2)
    floor_raw = round(sum(timings[k] for k in FLOOR16), 3)
    floor_ratios = {k: timings[k] / FLOOR16[k] for k in FLOOR16}
    floor_worst = max(floor_ratios, key=floor_ratios.get)
    detail = {
        "spread": spread,
        "oneoff_families_sec": oneoff,
        "runs_per_query": n_runs,
        "headline_order": headline,
        "silver_staging_sec": staging_sec,
        "catalog_staging_sec": catalog_staging_sec,
        "stream_batch_ms": latency,
        "stream_state": state,
        "host_probe": probe_end,
        "host_probe_start": probe_start,
        "host_probe_mid": probe_mid,
        "queries": timings,
        "queries_norm": timings_norm,
        "queries_norm_par": timings_norm_par,
        "floor16_ratios": {k: round(v, 2) for k, v in floor_ratios.items()},
    }
    # Detail (per-run spread, staging costs, stream probes) goes to an
    # earlier stdout line AND a sidecar file; the FINAL line stays
    # compact so the driver's bounded stdout tail window always parses
    # it (BENCH_r02 was clipped mid-line by the full spread dict —
    # round-2 verdict item 3).
    print(json.dumps({"bench_detail": detail}))
    try:
        # MERGE into the sidecar rather than overwrite: other tools
        # (tools/sf1_rehearsal.py) own their own top-level sections
        # (e.g. "sf1_rehearsal") and a plain overwrite here would
        # silently drop them on the next bench run
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_DETAIL.json",
        )
        try:
            existing = json.load(open(path))
        except FileNotFoundError:
            existing = {}
        except (json.JSONDecodeError, UnicodeDecodeError) as exc:
            # A corrupted sidecar must NOT be silently replaced — it
            # holds other tools' sections (sf1_rehearsal). Back it up
            # and say so, then start fresh (ADVICE r06).
            backup = path + ".corrupt"
            os.replace(path, backup)
            print(
                json.dumps(
                    {
                        "warning": "BENCH_DETAIL.json unparseable; "
                        f"backed up to {backup}: {exc}"
                    }
                )
            )
            existing = {}
        existing.update(detail)
        with open(path, "w") as fh:
            json.dump(existing, fh, indent=1)
    except OSError:
        pass
    # FINAL line: compact (<1500 chars) so the driver's bounded
    # stdout tail always parses it (VERDICT r11 item 2 — BENCH_r09+
    # went "parsed": null once the 60-query maps outgrew the tail).
    # "queries" carries ONLY the floor-16 gate subset; the full
    # 60-query raw/norm maps live in the detail line + sidecar above.
    final = {
        "metric": "headline_corpus_median_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "value_norm": round(total / host_ratio, 3),
        "value_norm_par": round(total / host_ratio_par, 3),
        "n_headline": len(timings),
        "queries": {k: timings[k] for k in FLOOR16},
        "floor16": {
            "raw_sec": floor_raw,
            "norm_sec": round(floor_raw / host_ratio, 3),
            "baseline_sec": floor_total,
            "ratio": round(floor_raw / floor_total, 3),
            "ratio_norm": round(floor_raw / host_ratio / floor_total, 3),
            "worst_query": floor_worst,
            "worst_ratio": round(floor_ratios[floor_worst], 2),
        },
        "host_probe": {
            "py_loop_sec": round(py_loop_mean, 3),
            "par_loop_sec": round(par_loop_mean, 3),
            "ref_py_loop": REF_PY_LOOP,
            "ref_par_loop": REF_PAR_LOOP,
        },
    }
    if shuffle_seed:
        final["shuffle_seed"] = int(shuffle_seed)
    print(json.dumps(final))


def host_speed_probe() -> dict[str, float]:
    """Fixed single-core workloads for CROSS-ROUND comparability:
    round-over-round query ratios are only meaningful when divided by
    the host-speed ratio. Motivation: this session's full bench ran a
    uniform ~1.5x over BENCH_r03 — including queries whose code was
    untouched — i.e. the HOST, not the plans (the same environmental
    swing NEXT.md documents at up to 2.6x in earlier sessions).
    py_loop_sec: 10M-iteration integer loop (interpreter+core speed);
    hash_mb_sec: sha256 over 64 MiB (memory+crypto throughput);
    par_loop_sec: the SAME loop on every core at once (median
    per-core) — measured this session at ~1.5x the single-core time,
    i.e. the host throttles under all-core load, which is exactly
    when Spark runs; the single-core probes alone would have called
    this host healthy."""
    import hashlib
    from multiprocessing import Pool

    py_loop = _probe_loop(0)
    buf = b"\x5a" * (1 << 26)
    t0 = time.perf_counter()
    hashlib.sha256(buf).hexdigest()
    hash_sec = time.perf_counter() - t0
    ncpu = os.cpu_count() or 1
    with Pool(ncpu) as p:
        per = p.map(_probe_loop, range(ncpu))
    par = statistics.median(per)
    return {
        "py_loop_sec": round(py_loop, 3),
        "sha256_64mib_sec": round(hash_sec, 3),
        "par_loop_sec": round(par, 3),
        "ncpu": ncpu,
    }


def _probe_loop(_):
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i * i
    return time.perf_counter() - t0


def stream_latency_probe(spark, sf_dir: str) -> dict[str, float]:
    """Micro-batch latency of the bronze→silver pipeline under a
    rate-limited source (maxFilesPerTrigger=1, 16 batches): per-batch
    wall-clock p50/p95 from the query's own progress events. This is
    the number a streaming deployment actually watches — headline
    timings above measure throughput of the drained plan instead."""
    import statistics

    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import (
        EVENTS_SCHEMA,
        _stage_events,
    )
    from eco_pulse_lakehouse_spark.streaming import pipeline as sp

    stream = sp.read_file_stream(
        spark, _stage_events(spark, sf_dir, parts=16), EVENTS_SCHEMA,
        max_files_per_trigger=1,
    )
    silver = sp.to_silver(stream, "ts", ["event_id"], with_processed_at=False)
    q = sp.run_to_parquet(silver, sp.scratch("out"))
    durs = [
        p["durationMs"]["triggerExecution"]
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    if not durs:
        return {}
    return {
        "p50": round(statistics.median(durs), 1),
        "p95": round(
            statistics.quantiles(durs, n=100, method="inclusive")[94], 1
        ),
        "batches": len(durs),
    }


def stream_state_probe(spark, sf_dir: str) -> dict[str, float]:
    """State-store footprint of the watermarked dedup+window pipeline
    (the regression signal NEXT.md tracks): drain the silver stream
    with a 30-min watermark and report the state rows/bytes the last
    micro-batch holds. Growth across rounds at fixed sf means an
    unbounded-state regression (watermark not pruning)."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import (
        EVENTS_SCHEMA,
        _stage_events,
    )
    from eco_pulse_lakehouse_spark.streaming import pipeline as sp

    stream = sp.read_file_stream(
        spark, _stage_events(spark, sf_dir), EVENTS_SCHEMA
    )
    silver = sp.to_silver(stream, "ts", ["event_id"], with_processed_at=False)
    # silver already carries the watermark — aggregate directly
    # (re-declaring one above a stateful op is disallowed)
    agg = silver.groupBy(F.window("ts", "1 hour"), "event_type").count()
    q = sp.drain(
        agg.writeStream.format("noop")
        .option("checkpointLocation", sp.scratch("ckpt"))
        .outputMode("append")
    )
    ops = (q.lastProgress or {}).get("stateOperators") or []
    if not ops:
        return {}
    return {
        "rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
        "memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "operators": len(ops),
    }


if __name__ == "__main__":
    main()
