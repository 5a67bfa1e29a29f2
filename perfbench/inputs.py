"""Seeded input generators, one per workload.

Every generator takes the run's seed and produces the same inputs for
the same seed. The engine only ever sees what is written here: JSON
lines for the lakehouse bronze layer, and parquet files in the
``documents`` / ``embeddings`` layout for curation and serving.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- lakehouse: Kafka-style fire and weather messages -------------------

FIRE_SCHEMA = (
    "source STRING, region STRING, lat DOUBLE, lon DOUBLE, "
    "temp_k DOUBLE, confidence STRING, timestamp DOUBLE"
)
WEATHER_SCHEMA = (
    "source STRING, location_id STRING, lat DOUBLE, lon DOUBLE, "
    "wind_speed DOUBLE, wind_deg DOUBLE, humidity DOUBLE, "
    "temperature DOUBLE, timestamp DOUBLE"
)

# Bounding boxes of the reference's NASA producer.
_BBOX = {
    "peninsula": ((35.5, 43.8), (-9.5, 4.5)),
    "canarias": ((27.5, 29.5), (-18.5, -13.0)),
}
N_STATIONS = 31
DUP_SHARE = 0.05  # redelivered messages
LATE_SHARE = 0.01
LATE_SECONDS = (3600.0, 3 * 3600.0)  # far behind the 10-minute watermark
OOO_SHARE = 0.02
OUT_OF_ORDER_SECONDS = 300.0  # inside the watermark: must be kept


@dataclass
class FireBatch:
    """One landed bronze batch plus the generator's own record of it."""

    fire_lines: list[str]
    weather_lines: list[str]
    fires: list[dict]  # every fire message, in landing order
    weather: list[dict]
    newest_ts: float  # event time of the batch's newest fire
    created_at: float = 0.0  # wall clock, stamped by the caller


@dataclass
class LakehouseGen:
    """Lands one batch per cycle. Cycle ``c`` covers event times
    ``[t0 + c·span, t0 + (c+1)·span)``; the span is a seeded number of
    hours, so a run's fires fall on a seeded number of gold days."""

    seed: int
    fires_per_batch: int
    rng: random.Random = field(init=False)
    stations: list[tuple[str, float, float]] = field(init=False)
    span_s: float = field(init=False)
    t0: float = field(init=False)
    _prev_fires: list[dict] = field(default_factory=list, init=False)

    def __post_init__(self) -> None:
        self.rng = random.Random(f"lakehouse:{self.seed}")
        r = self.rng
        self.span_s = 3600.0 * r.choice([12, 18, 24, 36])
        self.t0 = 1_700_000_000.0 + 86400.0 * r.randrange(0, 365)
        self.stations = []
        for i in range(N_STATIONS):
            region = "canarias" if i % 6 == 0 else "peninsula"
            (la0, la1), (lo0, lo1) = _BBOX[region]
            self.stations.append(
                (f"station_{i:02d}", round(r.uniform(la0, la1), 4),
                 round(r.uniform(lo0, lo1), 4))
            )

    def _fire(self, ts: float) -> dict:
        r = self.rng
        region = "canarias" if r.random() < 0.15 else "peninsula"
        (la0, la1), (lo0, lo1) = _BBOX[region]
        u = r.random()
        return {
            "source": "NASA_VIIRS",
            "region": region,
            "lat": round(r.uniform(la0, la1), 4),
            "lon": round(r.uniform(lo0, lo1), 4),
            "temp_k": round(r.uniform(290.0, 400.0), 1),
            "confidence": "h" if u < 0.4 else ("n" if u < 0.75 else "l"),
            "timestamp": round(ts, 3),
        }

    def batch(self, cycle: int) -> FireBatch:
        r = self.rng
        lo = self.t0 + cycle * self.span_s
        fires = []
        for _ in range(self.fires_per_batch):
            u = r.random()
            if cycle > 0 and u < LATE_SHARE:
                ts = lo - r.uniform(*LATE_SECONDS)
            elif cycle > 0 and u < LATE_SHARE + OOO_SHARE:
                ts = lo - r.uniform(0.0, OUT_OF_ORDER_SECONDS)
            else:
                ts = r.uniform(lo, lo + self.span_s)
            fires.append(self._fire(ts))
        # Redeliveries: copies of this batch's or the previous batch's
        # messages (the at-least-once producer the silver dedup absorbs).
        pool = fires + self._prev_fires
        n_dup = int(round(DUP_SHARE * len(fires)))
        fires = fires + [dict(r.choice(pool)) for _ in range(n_dup)]
        r.shuffle(fires)
        self._prev_fires = fires

        weather = []
        for name, lat, lon in self.stations:
            hot = r.random() < 0.1  # >= 303.15 keeps EXTREME reachable
            weather.append({
                "source": "OpenWeather",
                "location_id": name,
                "lat": lat,
                "lon": lon,
                "wind_speed": round(r.uniform(5.0, 60.0), 2),
                "wind_deg": float(r.randrange(0, 361)),
                "humidity": float(r.randrange(10, 91)),
                "temperature": round(
                    r.uniform(303.15, 310.0) if hot else r.uniform(15.0, 35.0), 2
                ),
                "timestamp": round(lo + self.span_s - r.uniform(0.0, 60.0), 3),
                # producer extras the silver schema drops
                "region": "canarias" if lat < 30 else "peninsula",
                "pressure": r.randrange(990, 1030),
                "clouds": r.randrange(0, 101),
            })
        on_time = [f["timestamp"] for f in fires if f["timestamp"] >= lo]
        return FireBatch(
            fire_lines=[json.dumps(f) for f in fires],
            weather_lines=[json.dumps(w) for w in weather],
            fires=fires,
            weather=weather,
            newest_ts=max(on_time),
        )


def land_lines(lines: list[str], directory: str, name: str) -> int:
    """Write one bronze file atomically (temp name, then rename, so a
    file-stream trigger never sees half a file). Returns its bytes."""
    data = ("\n".join(lines) + "\n").encode()
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, os.path.join(directory, name))
    return len(data)


# --- curation / serving: documents and embeddings -----------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20


@dataclass
class Corpus:
    docs: pa.Table
    exact_dup_pairs: set[tuple[int, int]]  # (lower id, higher id)


DOC_DUP_SHARE = 0.03
DOC_NEAR_SHARE = 0.03
DOC_BOILER_SHARE = 0.10


def corpus(seed: int, n_docs: int) -> Corpus:
    """``documents``-layout corpus (doc_id, text, lang, source, n_chars)
    with planted exact duplicates, near duplicates (one or two tokens
    replaced) and docs that open with a shared 6-token boilerplate
    (two aligned 3-token lines, so line dedup strips them)."""
    rng = np.random.default_rng([seed, 1])
    boiler = [" ".join(rng.choice(VOCAB, 6)) for _ in range(5)]
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < DOC_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and u < DOC_DUP_SHARE + DOC_NEAR_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
            continue
        words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        text = " ".join(words)
        if u > 1.0 - DOC_BOILER_SHARE:
            text = boiler[int(rng.integers(0, len(boiler)))] + " " + text
        texts.append(text)
    # exact duplicate pairs over the final texts (planted copies and any
    # copy of a copy collapse into one text group)
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    pairs = {
        (a, b)
        for ids in by_text.values() if len(ids) > 1
        for j, a in enumerate(ids) for b in ids[j + 1:]
    }
    lang = rng.choice(LANGS, n_docs, p=LANG_P)
    source = [f"src{k}" for k in rng.integers(0, N_SOURCES, n_docs)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return Corpus(table, pairs)


def embeddings(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    """``embeddings`` layout: (vec_id, embedding float[dim], label)."""
    rng = np.random.default_rng([seed, 2])
    vecs = rng.normal(0.0, 0.125, (n_vecs, dim)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def serving_queries(seed: int, n_vecs: int, n: int) -> list[tuple[int, str]]:
    """``n`` requests with distinct query ids (the more-like-this vector
    ids) and 1-3 query terms drawn Zipf-skewed over the vocabulary."""
    rng = np.random.default_rng([seed, 3])
    ranks = np.arange(1, len(VOCAB) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    order = rng.permutation(VOCAB)
    qids = rng.choice(n_vecs, n, replace=False)
    out = []
    for qid in qids:
        terms = rng.choice(order, int(rng.integers(1, 4)), replace=False, p=p)
        out.append((int(qid), " ".join(terms)))
    return out


def write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)
