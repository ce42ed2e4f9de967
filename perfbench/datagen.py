"""Seeded input generation for the benchmark.

Every input the engine sees is made here: the ``events`` and
``documents`` tables (the columns and physical types of the declared
queries' tables) and the Open-Meteo-shaped hourly weather
deliveries. The same seed always yields the same bytes.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np
import pyarrow as pa

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _us(d: dt.datetime) -> np.int64:
    return np.int64(int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000))


def events_table(seed: int, n: int, days: int) -> pa.Table:
    """``n`` events spread over ``days`` days from 2024-01-01."""
    rng = np.random.default_rng(seed)
    span_us = days * 86_400 * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + np.sort(rng.integers(0, span_us, n)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# --- documents corpus ------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]


def documents_table(seed: int, n: int) -> pa.Table:
    """``n`` documents shaped like the declared corpus queries'
    ``documents``: 10-99 words from a 30-word vocabulary, and one in
    twenty a near-duplicate (another document plus the word ``dup``,
    sometimes of a near-duplicate itself)."""
    rnd = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i and rnd.random() < 0.05:
            texts.append(texts[rnd.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rnd.choice(_WORDS) for _ in range(rnd.randint(10, 99))))
    rnd.shuffle(texts)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# --- hourly weather deliveries ---------------------------------------

#: Each delivery is a 7-day forecast; the next one starts this many days
#: later, so consecutive deliveries overlap by four days.
WINDOW_STEP_DAYS = 3
#: Every fourth delivery re-delivers the previous window with revised
#: values (the seed picks the phase), as a retried hourly call does.
REDELIVERY_EVERY = 4
_VARIANTS = ("empty", "missing_keys", "malformed_times")


def weather_deliveries(seed: int, count: int) -> list[dict]:
    """``count`` Open-Meteo-shaped payloads (FIXTURES.md §1 shape).

    About 5% are the FIXTURES.md §1 variants, exactly one per 20
    deliveries at a seeded position (never one of the first two): an
    empty ``hourly`` block, missing keys, or a normal batch with a few
    malformed timestamps."""
    rnd = random.Random(seed)
    phase = rnd.randrange(REDELIVERY_EVERY)
    variant_at = {
        b * 20 + 2 + rnd.randrange(18): rnd.choice(_VARIANTS) for b in range(count // 20 + 1)
    }
    start = dt.datetime(2025, 8, 1)
    out = []
    for i in range(count):
        if i and (i + phase) % REDELIVERY_EVERY:
            start += dt.timedelta(days=WINDOW_STEP_DAYS)
        times = [(start + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(168)]
        hourly = {
            "time": times,
            "temperature_2m": [round(rnd.uniform(-5.0, 35.0), 1) for _ in times],
            "relative_humidity_2m": [round(rnd.uniform(15.0, 100.0), 1) for _ in times],
        }
        variant = variant_at.get(i)
        if variant == "empty":
            hourly = {}
        elif variant == "missing_keys":
            del hourly["relative_humidity_2m"]
        elif variant == "malformed_times":
            for h in rnd.sample(range(168), 3):
                times[h] = times[h].replace("T", " at ")
        out.append({
            "hourly": hourly,
            "_meta": {
                "lat": "-23.5505",
                "lon": "-46.6333",
                "ingested_at": (start + dt.timedelta(hours=i % 24)).strftime("%Y-%m-%dT%H:%M:%SZ"),
            },
        })
    return out
