"""Seeded inputs for the benchmark workloads.

The turns come from the engine's own corpus generator,
``go_muse_spark.sources.transcripts.generate_transcripts`` (FIXTURES.md
§F1: heavy-tailed conversation sizes with hot conversations of 10^4
turns and more, exponential inter-turn gaps with silences), called with
its default traffic shape. The functions here only cut that stream into
what a workload serves, so that every seed costs the engine the same
work:

* ``search_corpus``: the turns of a fixed window of ``span_min``
  minutes, uniformly thinned to exactly ``n_turns`` turns. Thinning a
  stream of exponential gaps leaves it one of exponential gaps, and every
  conversation keeps its first turn, so the series count is exactly
  ``n_convs`` and the series length (hence the FFT length) is fixed.
* ``ingest_batches``: consecutive batches of exactly ``turns_per_batch``
  turns, in time order, cut from the stream once it is steady (after the
  longest conversation could have started), as a collector that ships a
  batch every N turns would deliver them.

Every function is a pure function of its arguments: the same seed gives
byte-identical tables. Each returns the seconds the engine's generator
took and the turns it generated, which the benchmark reports as the
``sources`` layer.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from go_muse_spark.sources.transcripts import generate_transcripts

EPOCH_US = int(np.datetime64("2025-01-01T00:00:00", "us").astype(np.int64))
MINUTE_US = 60_000_000
DAY_US = 1440 * MINUTE_US

# The longest conversation the generator makes at its defaults (20,000
# turns, mean gap 20 s plus a 600 s silence every 50 turns) lasts about
# 7.4 days; past that point of the stream every conversation that can be
# active may already have started, so the turn rate is steady.
STEADY_AFTER_DAYS = 7.5
# Days of stream generated after the steady point; at the ingest sizes
# this holds more than twice the turns the batches take.
INGEST_STREAM_DAYS = 8.0

# Shares of delivery faults in the ingest batches. They are assumed, not
# measured: no trace in the repository gives them. A late turn arrives
# one batch after its own, when its buckets were already merged; a
# duplicate is a row sent twice within one batch.
LATE_SHARE = 0.02
DUP_SHARE = 0.01


def _ts_us(table: pa.Table) -> np.ndarray:
    return table["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)


def _generate(**kw) -> tuple[pa.Table, float]:
    t0 = time.perf_counter()
    table = generate_transcripts(**kw)
    return table, time.perf_counter() - t0


def search_corpus(
    seed: int, n_convs: int, n_turns: int, span_min: int
) -> tuple[pa.Table, float, int]:
    """Transcript turns of ``n_convs`` conversations over ``span_min``
    minutes: exactly ``n_turns`` turns, sorted by (conv_id, turn_idx).

    Returns (table, generator seconds, generated turns)."""
    raw, gen_s = _generate(n_convs=n_convs, seed=seed, span_days=span_min / 1440)
    ts = _ts_us(raw)
    lo = ts.min() // MINUTE_US * MINUTE_US
    inside = raw.take(pa.array(np.flatnonzero(ts < lo + span_min * MINUTE_US)))
    if inside.num_rows < n_turns:
        raise ValueError(f"seed {seed}: {inside.num_rows} turns in the window, {n_turns} asked")
    # every conversation starts inside the window; its first turn and the
    # window's last turn pin the series count and the series length
    keep = inside["turn_idx"].to_numpy() == 0
    keep[_ts_us(inside).argmax()] = True
    rng = np.random.default_rng(seed)
    rest = np.flatnonzero(~keep)
    keep[rng.choice(rest, n_turns - int(keep.sum()), replace=False)] = True
    return inside.filter(pa.array(keep)), gen_s, raw.num_rows


def ingest_batches(
    seed: int, n_convs: int, turns_per_batch: int, n_batches: int
) -> tuple[list[pa.Table], float, int]:
    """``n_batches`` delta batches of the steady stream, each sorted by ts.

    Batch ``b`` holds the stream's turns ``b * turns_per_batch`` to
    ``(b + 1) * turns_per_batch`` after the steady point. Then
    ``LATE_SHARE`` of each batch's turns (but the last batch's) is moved
    to the next batch and ``DUP_SHARE`` of each batch's rows is sent twice.

    Returns (batches, generator seconds, generated turns)."""
    raw, gen_s = _generate(
        n_convs=n_convs, seed=seed, span_days=STEADY_AFTER_DAYS + INGEST_STREAM_DAYS
    )
    ts = _ts_us(raw)
    order = np.argsort(ts, kind="stable")
    start = int(np.searchsorted(ts[order], EPOCH_US + int(STEADY_AFTER_DAYS * DAY_US)))
    need = turns_per_batch * n_batches
    if order.size - start < need:
        raise ValueError(f"seed {seed}: {order.size - start} steady turns, {need} asked")
    rows = order[start : start + need]
    rng = np.random.default_rng(seed)
    batch = np.repeat(np.arange(n_batches), turns_per_batch)
    slot = batch + ((rng.random(need) < LATE_SHARE) & (batch < n_batches - 1))
    out = []
    for b in range(n_batches):
        mine = rows[slot == b]
        dups = mine[rng.random(mine.size) < DUP_SHARE]
        take = np.concatenate([mine, dups])
        out.append(raw.take(pa.array(take[np.argsort(ts[take], kind="stable")])))
    return out, gen_s, raw.num_rows


EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
EVENT_USERS = 1500
EVENT_DAYS = 30


def events(seed: int, n_rows: int) -> pa.Table:
    """An events table in the schema of the contract queries' fixtures,
    events(event_id, ts, user_id, event_type, value, props): ``n_rows``
    events of ``EVENT_USERS`` users over ``EVENT_DAYS`` days, ordered by
    ts and event_id."""
    rng = np.random.default_rng(seed + 3)
    epoch = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    ts = np.sort(epoch + rng.integers(0, EVENT_DAYS * DAY_US, n_rows))
    keys = rng.integers(0, 100, n_rows).astype(str)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n_rows)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, EVENT_TYPES.size, n_rows)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array(np.char.add(np.char.add('{"k": ', keys), "}")),
        }
    )


SHAPES = ("burst", "dip", "ramp", "step", "sine")

# The parts of a request that change the engine's query plan: group_by
# labels, score mode, sign filter and max-lag filter (as a divisor of the
# series length). Request ``j`` takes plan ``j % len(PLANS)``, so a
# warm-up of ``len(PLANS)`` requests compiles every plan a timed request
# runs, and every run's timed requests take the plans in the same order,
# whatever the seed. Together they cover every grouping, mode, sign and
# max-lag the requests use.
PLANS = (
    {"group_by": None, "mode": "abs", "sign": "any", "max_lag_div": None},
    {"group_by": ("tenant",), "mode": "signed", "sign": "pos", "max_lag_div": 2},
    {"group_by": ("model", "tenant"), "mode": "signed", "sign": "neg", "max_lag_div": 8},
)


def search_requests(seed: int, length: int, count: int) -> list[dict]:
    """Single-reference search requests over series of ``length`` points.

    The seed draws each reference's shape, width and position; its plan
    comes from ``PLANS`` in turn. Every request scores the same corpus,
    so they cost about the same.
    """
    rng = np.random.default_rng(seed + 2)
    out = []
    for j in range(count):
        shape = SHAPES[rng.integers(len(SHAPES))]
        width = int(rng.integers(8, 64))
        pos = int(rng.integers(length // 8, length * 7 // 8 - width))
        ref = np.zeros(length)
        bump = np.sin(np.linspace(0.0, np.pi, width)) * 5.0
        if shape == "burst":
            ref[pos : pos + width] = bump
        elif shape == "dip":
            ref[pos : pos + width] = -bump
        elif shape == "ramp":
            ref[pos : pos + width] = np.linspace(0.0, 5.0, width)
        elif shape == "step":
            ref[pos:] = 2.0
        else:
            seg = ref[pos : pos + width * 4]
            seg[:] = np.sin(np.arange(seg.size) * 2 * np.pi / width)
        plan = PLANS[j % len(PLANS)]
        div = plan["max_lag_div"]
        out.append(
            {
                "ref": ref,
                "group_by": plan["group_by"],
                "mode": plan["mode"],
                "sign": plan["sign"],
                "max_lag": None if div is None else length // div,
                "top_n": 10,
            }
        )
    return out
