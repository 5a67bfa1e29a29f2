"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

1. Every correctness check accepts a correct output and catches a
   deliberately corrupted one (no Spark needed; the correct outputs are
   built from the generators and the DuckDB recomputations).
2. Every per-layer metric belongs to a workload, and a traced run that
   lost one of its workload's spans is reported as incorrect.
3. Each workload runs at tiny size with tracing off and on, and every
   metric BENCHMARK.json names is emitted with its unit.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402


def _expect(name: str, got: set[int], want: set[int]) -> None:
    status = "ok" if got == want else "FAIL"
    print(f"{status}: {name}: flagged {sorted(got)}, expected {sorted(want)}")
    if got != want:
        raise SystemExit(1)


def check_lakehouse() -> None:
    gen = inputs.LakehouseGen(seed=7, fires_per_batch=300)
    batches = [gen.batch(c) for c in range(3)]
    fires = checks.expected_silver_fires(batches)
    gold_parts = checks.expected_gold(batches, fires)
    weather = pd.DataFrame([w for b in batches for w in b.weather],
                           columns=checks.WEATHER_COLS)
    dashboards = []
    for i, b in enumerate(batches):
        g = pd.concat(gold_parts[: i + 1])
        dashboards.append({
            "risk_counts": g["risk_level"].value_counts().to_dict(),
            "per_station": g["weather_station"].value_counts().to_dict(),
            "latest": g.nlargest(checks.LATEST_N, "timestamp").to_dict("records"),
        })
    gold = pd.concat(gold_parts, ignore_index=True)
    run = lambda **kw: checks.lakehouse(  # noqa: E731
        batches, kw.get("fires", fires), kw.get("weather", weather),
        kw.get("gold", gold), kw.get("dash", dashboards))
    _expect("lakehouse correct", run(), set())
    assert any(f["timestamp"] < b.newest_ts - 3600 for b in batches[1:]
               for f in b.fires), "generator planted no late events"

    late = [f for f in batches[2].fires
            if f["timestamp"] < batches[1].newest_ts - 3600][0]
    kept_late = fires[:2] + [pd.concat(
        [fires[2], pd.DataFrame([late], columns=checks.FIRE_COLS)])]
    _expect("lakehouse late event kept in silver", run(fires=kept_late), {2})

    dup = fires[:1] + [pd.concat([fires[1], fires[1].head(1)])] + fires[2:]
    _expect("lakehouse duplicate in silver", run(fires=dup), {1})

    bad = gold.copy()
    row = bad.index[bad["timestamp"].isin(fires[1]["timestamp"])][0]
    bad.loc[row, "risk_level"] = "LOW" if bad.loc[row, "risk_level"] != "LOW" else "HIGH"
    _expect("lakehouse gold risk level", run(gold=bad), {1})

    _expect("lakehouse gold row dropped",
            run(gold=gold.drop(index=gold.index[-1])), {2})

    stale = list(dashboards)
    stale[0] = dict(stale[0], latest=[
        r for r in stale[0]["latest"] if r["timestamp"] != batches[0].newest_ts])
    _expect("lakehouse dashboard misses newest event", run(dash=stale), {0})

    short = list(dashboards)
    counts = dict(short[1]["risk_counts"])
    counts["LOW"] = counts.get("LOW", 0) - 1
    short[1] = dict(short[1], risk_counts=counts)
    _expect("lakehouse dashboard risk counts", run(dash=short), {1})

    moved = list(dashboards)
    per = dict(moved[2]["per_station"])
    a, b = sorted(per)[:2]
    per[a], per[b] = per[a] + 1, per[b] - 1
    moved[2] = dict(moved[2], per_station=per)
    _expect("lakehouse dashboard alerts per station", run(dash=moved), {2})

    older = list(dashboards)
    g = pd.concat(gold_parts[:2])
    older[1] = dict(older[1], latest=older[1]["latest"][:-1] + [
        g.nsmallest(1, "timestamp").to_dict("records")[0]])
    _expect("lakehouse dashboard latest holds an old alert", run(dash=older), {1})

    ghost = list(dashboards)
    fake = dict(ghost[1]["latest"][0], wind_speed=-1.0)
    ghost[1] = dict(ghost[1], latest=[fake] + ghost[1]["latest"][1:])
    _expect("lakehouse dashboard latest row not in gold", run(dash=ghost), {1})


def check_curation() -> None:
    import __spark_entry__

    c = inputs.corpus(seed=7, n_docs=300)
    oracle = __spark_entry__.oracle_sql()["flagship_data_factory"]
    expected = checks.curation_expected(c.docs.to_pandas(), oracle)
    assert len(expected) > 1 and c.exact_dup_pairs, "corpus planted nothing"
    pairs = set(c.exact_dup_pairs) | {(0, 1)}
    ok = expected.copy()
    _expect("curation correct",
            checks.curation(expected, [ok, ok], c.exact_dup_pairs, [pairs, pairs]),
            set())
    bad = ok.copy()
    bad.loc[0, "weight_fp"] = bad.loc[0, "weight_fp"] + 1
    _expect("curation manifest weight",
            checks.curation(expected, [ok, bad], c.exact_dup_pairs, [pairs, pairs]),
            {1})
    _expect("curation manifest row dropped",
            checks.curation(expected, [ok.iloc[1:], ok], c.exact_dup_pairs,
                            [pairs, pairs]), {0})
    missing = set(list(c.exact_dup_pairs)[1:])
    _expect("curation minhash misses an exact duplicate",
            checks.curation(expected, [ok, ok], c.exact_dup_pairs, [pairs, missing]),
            {1})


def check_serving() -> None:
    one_shot = [(q, d, 1.0 / (d + 1), d, 10, 10 * d) for q in range(8) for d in range(3)]
    qids = [[0, 1, 2, 3], [4, 5, 6, 7]]
    batches = [[r for r in one_shot if r[0] in ids] for ids in qids]
    _expect("serving correct", checks.serving(qids, batches, one_shot), set())
    wrong = [batches[0], batches[1][:-1] + [batches[1][-1][:2] + (0.5,) + batches[1][-1][3:]]]
    _expect("serving changed score", checks.serving(qids, wrong, one_shot), {1})
    lost = [[r for r in batches[0] if r[0] != 2], batches[1]]
    _expect("serving lost a query", checks.serving(qids, lost, one_shot), {0})


def check_layer_ownership() -> None:
    """Each per-layer metric belongs to a workload; a traced run that
    loses one of its own spans is caught, while the other workload's
    metrics read 0."""
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["per_layer"]]
    orphans = [n for n in names
               if not any(w.owns(n) for w in workloads.WORKLOADS.values())]
    if orphans:
        print(f"FAIL: per-layer metrics no workload emits: {orphans}")
        raise SystemExit(1)
    for w in workloads.WORKLOADS.values():
        full = {n: 1.0 for n in names if w.owns(n)}
        values, missing = run.layer_values(names, full, w.owns)
        ok = not missing and all(values[n] == 0.0 for n in names if n not in full)
        span = w.layer_prefixes[0]
        lost = {n: v for n, v in full.items() if not n.startswith(span + ".")}
        _, missing = run.layer_values(names, lost, w.owns)
        ok = ok and bool(missing) and all(n.startswith(span) for n in missing)
        print(f"{'ok' if ok else 'FAIL'}: {w.name} per-layer ownership; "
              f"dropping {span} leaves {len(missing)} metrics missing")
        if not ok:
            raise SystemExit(1)


def check_metrics() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w["name"], "--seed", "1", "--seconds", "1", "--trace",
                 str(trace), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(last)
            m = r.get("metrics", {})
            problems = [
                x["name"] for x in wanted
                if x["name"] not in m or m[x["name"]]["unit"] != x["unit"]
                or not math.isfinite(m[x["name"]]["value"])
            ]
            ok = (p.returncode == 0 and r.get("correct") is True
                  and r.get("attempted", 0) >= 1 and not problems
                  and set(m) == {x["name"] for x in wanted})
            print(f"{'ok' if ok else 'FAIL'}: {w['name']} trace={trace}: "
                  f"{len(m)} metrics, attempted={r.get('attempted')}, "
                  f"correct={r.get('correct')}, missing={problems}")
            if not ok:
                print(p.stderr[-3000:], file=sys.stderr)
                raise SystemExit(1)


if __name__ == "__main__":
    check_lakehouse()
    check_curation()
    check_serving()
    check_layer_ownership()
    if "--checks-only" not in sys.argv:
        check_metrics()
    print("selftest passed")
