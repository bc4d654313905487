"""Independent references the benchmark checks the engine's results against.

They use plain numpy and pandas, never the engine's own kernels or
operators, and run outside the timed window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SCORE_ATOL = 1e-9
TIER_FREQ = {"1m": "min", "1h": "h", "1d": "D"}
TIER_COLS = ["conv_id", "bucket_ts", "turn_cnt", "tool_cnt", "first_ts", "last_ts"]


# ------------------------------------------------------------ search


class SearchReference:
    """Top-K muse search by z-normalised FFT cross-correlation in numpy.

    ``series`` is the dense (m, n) matrix of zero-filled 1m turn counts,
    one row per series key, over the corpus' global minute range.
    """

    def __init__(self, keys: np.ndarray, labels: dict, series: np.ndarray) -> None:
        self.keys = np.asarray(keys)
        self.labels = labels
        m, n = series.shape
        self.n = n
        self.nfft = 1 << (n - 1).bit_length()
        sigma = series.std(axis=1, ddof=1)
        self.ok = (sigma > 0) & np.isfinite(sigma)
        z = (series - series.mean(axis=1, keepdims=True)) / np.where(
            self.ok, sigma, 1.0
        )[:, None]
        padded = np.zeros((m, self.nfft))
        padded[:, self.nfft - n :] = z  # front padding keeps the lag convention
        self.y_spec = np.fft.rfft(padded, axis=1)

    def best_per_series(self, ref: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        z = (ref - ref.mean()) / ref.std(ddof=1) / (self.n - 1)
        x = np.zeros(self.nfft)
        x[self.nfft - self.n :] = z
        cc = np.fft.irfft(np.conj(self.y_spec) * np.fft.rfft(x)[None, :], self.nfft, axis=1)
        idx = np.abs(cc).argmax(axis=1)
        lags = np.where(idx > self.nfft // 2, idx - self.nfft, idx)
        scores = cc[np.arange(len(idx)), idx]
        return np.where(self.ok, lags, 0), np.where(self.ok, scores, 0.0)

    def group_keys(self, group_by) -> np.ndarray:
        if not group_by:
            return self.keys
        parts = [np.char.add(f"{k}:", self.labels[k]) for k in sorted(group_by)]
        out = parts[0]
        for p in parts[1:]:
            out = np.char.add(np.char.add(out, ","), p)
        return out

    def top_k(self, req: dict) -> list[tuple]:
        lags, raw = self.best_per_series(req["ref"])
        score = np.minimum(np.abs(raw), 1.0) if req["mode"] == "abs" else np.clip(raw, -1, 1)
        df = pd.DataFrame(
            {
                "group_key": self.group_keys(req["group_by"]),
                "series_key": self.keys,
                "lag": lags,
                "score": score,
                "abs": np.abs(score),
            }
        )
        best = (
            df.sort_values(["abs", "series_key"], ascending=[False, True], kind="mergesort")
            .drop_duplicates("group_key")
        )
        if req["max_lag"] is not None:
            best = best[best["lag"].abs() <= req["max_lag"]]
        if req["sign"] == "pos":
            best = best[best["score"] >= 0]
        elif req["sign"] == "neg":
            best = best[best["score"] < 0]
        best = best.sort_values(["abs", "group_key"], ascending=[False, True], kind="mergesort")
        # one row past K shows a tie at the cut
        return list(
            best.head(req["top_n"] + 1)[["group_key", "series_key", "lag", "score"]]
            .itertuples(index=False, name=None)
        )


def topk_matches(got: list[tuple], want: list[tuple], k: int) -> bool:
    """Engine top-K rows equal the reference's, scores within SCORE_ATOL.

    Where the reference has two scores within SCORE_ATOL of each other
    (at or next to the cut), the order of those rows is not defined, so
    only the scores are compared."""
    head = want[:k]
    if len(got) != len(head):
        return False
    g_scores = np.array([r[3] for r in got], dtype=float)
    w_scores = np.array([r[3] for r in head], dtype=float)
    if not np.allclose(g_scores, w_scores, rtol=0, atol=SCORE_ATOL):
        return False
    abs_all = np.abs([r[3] for r in want])
    tied = len(abs_all) > 1 and bool(np.any(np.abs(np.diff(abs_all)) <= SCORE_ATOL))
    if tied:
        return True
    return [tuple(r[:3]) for r in got] == [tuple(r[:3]) for r in head]


# ------------------------------------------------------------ tiers


def distinct_turns(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Every delivered turn once, keyed on (conv_id, turn_idx)."""
    return pd.concat(batches, ignore_index=True).drop_duplicates(["conv_id", "turn_idx"])


def rollup(turns: pd.DataFrame, tier: str) -> pd.DataFrame:
    """One-shot pandas rollup of raw turns to one tier."""
    df = turns.assign(
        bucket_ts=turns["ts"].dt.floor(TIER_FREQ[tier]),
        is_tool=(turns["role"] == "tool").astype("int64"),
    )
    out = (
        df.groupby(["conv_id", "bucket_ts"], sort=True)
        .agg(
            turn_cnt=("ts", "size"),
            tool_cnt=("is_tool", "sum"),
            first_ts=("ts", "min"),
            last_ts=("ts", "max"),
        )
        .reset_index()
    )
    return canon_tier(out)


def canon_tier(df: pd.DataFrame) -> pd.DataFrame:
    out = df[TIER_COLS].copy()
    for c in ("bucket_ts", "first_ts", "last_ts"):
        out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
    for c in ("turn_cnt", "tool_cnt"):
        out[c] = out[c].astype("int64")
    return out.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)


def tier_matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return canon_tier(got).equals(want)


def dense_hourly(tier_1h: pd.DataFrame) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per conversation, the zero-filled hourly series over its own
    [first, last] bucket: the dense spine the chunk table must hold."""
    out = {}
    for conv, g in canon_tier(tier_1h).groupby("conv_id", sort=False):
        ts = g["bucket_ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        step = 3_600_000_000
        dense_ts = np.arange(ts[0], ts[-1] + step, step, dtype=np.int64)
        vals = np.zeros(dense_ts.size)
        vals[(ts - ts[0]) // step] = g["turn_cnt"].to_numpy()
        out[conv] = (dense_ts, vals)
    return out


def spine_lengths(rolled_1m: pd.DataFrame) -> pd.Series:
    """Points per (conv_id, tier) of each conversation's dense spine, from
    its first to its last bucket, in the 1m, 1h and 1d tiers."""
    ts = pd.to_datetime(rolled_1m["bucket_ts"])
    span = ts.groupby(rolled_1m["conv_id"]).agg(["min", "max"])
    parts = []
    for tier in ("1m", "1h", "1d"):
        freq = TIER_FREQ[tier]
        n = (span["max"].dt.floor(freq) - span["min"].dt.floor(freq)) // pd.Timedelta(1, freq) + 1
        parts.append(pd.DataFrame({"conv_id": span.index, "tier": tier, "points": n.to_numpy()}))
    out = pd.concat(parts).set_index(["conv_id", "tier"])["points"]
    return out.astype("int64").sort_index()


# ------------------------------------------------------------ contract queries


def duckdb_query(sql: str, tables: dict[str, str]) -> pd.DataFrame:
    """``sql`` in DuckDB, one thread, with each table a view of a parquet file."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same columns and the same rows in any order; floats within 1e-9."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    cols = list(got.columns)

    def canon(df):
        out = df.copy()
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(out[c]):
                out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
            elif pd.api.types.is_numeric_dtype(out[c]):
                out[c] = out[c].astype("float64")
            else:
                out[c] = out[c].astype(str)
        return out.sort_values(cols, kind="mergesort").reset_index(drop=True)

    g, w = canon(got), canon(want)
    for c in cols:
        if pd.api.types.is_float_dtype(g[c]):
            if not np.allclose(g[c].to_numpy(), w[c].to_numpy(), rtol=0, atol=1e-9, equal_nan=True):
                return False
        elif not g[c].equals(w[c]):
            return False
    return True
