"""Correctness checks, run after the timed region.

Each check recomputes the expected output independently (DuckDB over
the generated inputs, or the engine's own one-shot invariant) and
returns the indices of the operations whose output was wrong. A wrong
output counts as a failed operation.
"""

from __future__ import annotations

import duckdb
import pandas as pd

WATERMARK_S = 600.0  # the silver stream's 10-minute watermark
LATEST_N = 20  # alerts the dashboard's "latest" read returns
FIRE_COLS = ["source", "region", "lat", "lon", "temp_k", "confidence", "timestamp"]
WEATHER_COLS = [
    "source", "location_id", "lat", "lon", "wind_speed", "wind_deg",
    "humidity", "temperature", "timestamp",
]
GOLD_COLS = [
    "timestamp", "fire_lat", "fire_lon", "weather_station", "wind_speed",
    "temperature", "humidity", "risk_level", "distance_deg",
]


def expected_silver_fires(batches) -> list[pd.DataFrame]:
    """Per cycle, the fire rows silver must append: a row survives if it
    is not behind the watermark of its micro-batch (newest event time of
    all earlier batches minus 10 minutes) and its key (event time, lat,
    lon) was not kept before."""
    seen: set[tuple] = set()
    newest = float("-inf")
    out = []
    for b in batches:
        kept = []
        for f in b.fires:
            key = (f["timestamp"], f["lat"], f["lon"])
            if f["timestamp"] <= newest - WATERMARK_S or key in seen:
                continue
            seen.add(key)
            kept.append(f)
        newest = max(newest, max(f["timestamp"] for f in b.fires))
        out.append(pd.DataFrame(kept, columns=FIRE_COLS))
    return out


def _extra_rows(con, a: pd.DataFrame, b: pd.DataFrame, cols) -> int:
    """Rows of multiset ``a`` that are not in ``b``."""
    con.register("a_df", a[cols])
    con.register("b_df", b[cols])
    sel = ", ".join(cols)
    n = con.execute(
        f"SELECT count(*) FROM (SELECT {sel} FROM a_df EXCEPT ALL "
        f"SELECT {sel} FROM b_df)"
    ).fetchone()[0]
    con.unregister("a_df")
    con.unregister("b_df")
    return int(n)


def _diff_rows(con, actual: pd.DataFrame, expected: pd.DataFrame, cols) -> int:
    """Rows in either multiset but not the other."""
    return (_extra_rows(con, actual, expected, cols)
            + _extra_rows(con, expected, actual, cols))


_GOLD_SQL = """
SELECT f.timestamp, f.lat AS fire_lat, f.lon AS fire_lon,
       w.location_id AS weather_station, w.wind_speed, w.temperature,
       w.humidity,
       CASE WHEN f.confidence = 'h' AND w.wind_speed >= 30
                 AND w.temperature >= 303.15 AND w.humidity <= 30
              THEN 'EXTREME'
            WHEN f.confidence = 'h' AND w.wind_speed >= 30 THEN 'VERY_HIGH'
            WHEN f.confidence = 'h' AND w.wind_speed >= 20 THEN 'HIGH'
            WHEN f.confidence = 'h' THEN 'MODERATE'
            ELSE 'LOW' END AS risk_level,
       sqrt((f.lat - w.lat) * (f.lat - w.lat)
            + (f.lon - w.lon) * (f.lon - w.lon)) AS distance_deg
FROM fires f CROSS JOIN (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY location_id
                                 ORDER BY timestamp DESC) AS rn
    FROM weather) WHERE rn = 1) w
WHERE sqrt((f.lat - w.lat) * (f.lat - w.lat)
           + (f.lon - w.lon) * (f.lon - w.lon)) < 20.0
"""


def expected_gold(batches, exp_fires: list[pd.DataFrame]) -> list[pd.DataFrame]:
    """Per cycle, the gold rows the cycle adds: its new silver fires
    joined to the latest reading of every station (this cycle's
    readings carry the newest timestamps), kept when the planar
    distance is under 20 degrees, classified by the CASE chain."""
    con = duckdb.connect()
    out = []
    for b, fires in zip(batches, exp_fires):
        con.register("fires", fires)
        con.register("weather", pd.DataFrame(b.weather, columns=WEATHER_COLS))
        out.append(con.execute(_GOLD_SQL).df())
        con.unregister("fires")
        con.unregister("weather")
    con.close()
    return out


def _dashboard_ok(con, dash: dict, gold: pd.DataFrame) -> bool:
    """The dashboard reads of one cycle against the expected gold table
    after it: risk counts and alerts per station equal, and the latest
    alerts are gold rows whose timestamps are the newest ones (ties at
    the cut may pick any of the tied rows)."""
    latest = pd.DataFrame(dash["latest"], columns=GOLD_COLS)
    newest = sorted(gold["timestamp"], reverse=True)[: LATEST_N]
    return (
        dash["risk_counts"] == gold["risk_level"].value_counts().to_dict()
        and dash["per_station"] == gold["weather_station"].value_counts().to_dict()
        and sorted(latest["timestamp"], reverse=True) == newest
        and _extra_rows(con, latest, gold, GOLD_COLS) == 0
    )


def lakehouse(batches, silver_fires: list[pd.DataFrame],
              silver_weather: pd.DataFrame, gold: pd.DataFrame,
              dashboards: list[dict]) -> set[int]:
    """Indices of the cycles whose silver rows, gold rows or dashboard
    reads differ from a DuckDB recomputation over the generated events.

    ``silver_fires[i]`` holds the rows cycle ``i`` appended to silver;
    ``gold`` is the whole gold table after the last cycle; each
    dashboard is what cycle ``i`` read back (risk counts, alerts per
    station, latest alerts)."""
    con = duckdb.connect()
    failed: set[int] = set()
    exp_fires = expected_silver_fires(batches)
    exp_gold = expected_gold(batches, exp_fires)
    weather = pd.DataFrame(
        [w for b in batches for w in b.weather], columns=WEATHER_COLS
    )
    if _diff_rows(con, silver_weather, weather, WEATHER_COLS):
        failed.update(range(len(batches)))
    cycle_of = {}
    for i in range(len(batches)):
        if _diff_rows(con, silver_fires[i], exp_fires[i], FIRE_COLS):
            failed.add(i)
        for k in zip(exp_fires[i]["timestamp"], exp_fires[i]["lat"],
                     exp_fires[i]["lon"]):
            cycle_of[k] = i
        if not _dashboard_ok(con, dashboards[i], pd.concat(exp_gold[: i + 1])):
            failed.add(i)
    cycle = [
        cycle_of.get(k, -1)
        for k in zip(gold["timestamp"], gold["fire_lat"], gold["fire_lon"])
    ]
    if -1 in cycle:
        failed.update(range(len(batches)))
    actual = gold[GOLD_COLS].assign(cycle=cycle)
    for i, e in enumerate(exp_gold):
        if _diff_rows(con, actual[actual["cycle"] == i], e, GOLD_COLS):
            failed.add(i)
    con.close()
    return failed


def curation_expected(docs: pd.DataFrame, oracle_sql: str) -> pd.DataFrame:
    """The data-factory manifest, recomputed by the corpus oracle
    (``flagship_data_factory``) in DuckDB over the generated corpus."""
    con = duckdb.connect()
    con.register("documents", docs)
    out = con.execute(oracle_sql).df()
    con.close()
    return _canon(out)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


def curation(expected: pd.DataFrame, manifests: list[pd.DataFrame],
             exact_dup_pairs: set[tuple[int, int]],
             pair_sets: list[set[tuple[int, int]]]) -> set[int]:
    """Indices of the passes whose manifest differs from the oracle's,
    or whose minhash candidate pairs miss a planted exact duplicate
    (identical texts share every band, so LSH must pair them)."""
    failed = set()
    for i, m in enumerate(manifests):
        m = _canon(m)
        same = (list(m.columns) == list(expected.columns)
                and len(m) == len(expected)
                and all((m[c].to_numpy() == expected[c].to_numpy()).all()
                        for c in m.columns))
        if not same or not exact_dup_pairs <= pair_sets[i]:
            failed.add(i)
    return failed


def serving(batch_qids: list[list[int]], batches: list[list[tuple]],
            one_shot: list[tuple]) -> set[int]:
    """Indices of the request batches whose rows differ from one
    ``hybrid_serving`` call over all of the run's queries: every stage
    is per-query, so disjoint batches must union to the one-shot
    result."""
    by_query: dict[int, list[tuple]] = {}
    for row in one_shot:
        by_query.setdefault(row[0], []).append(row)
    failed = set()
    for i, rows in enumerate(batches):
        want = sorted(r for q in batch_qids[i] for r in by_query.get(q, []))
        if sorted(rows) != want or not rows:
            failed.add(i)
    return failed
