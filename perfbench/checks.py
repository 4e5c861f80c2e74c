"""Correctness checks, run after the timed region.

Each check recomputes its expectation from an independent source (the
transcripts, another tier, or the driver-side kernels) instead of
comparing against stored digests. The warehouse files are read with
pyarrow, not through Spark, so a check shares no read path with the
engine. A check returns a list of problems; an empty list passes.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

from chronoxtract_spark import compression
from chronoxtract_spark.operators.features import (
    CORE_FEATURE_FIELDS,
    WINDOW_STATE_FIELDS,
    core_features_batch,
    window_state_batch,
)
from chronoxtract_spark.plans.rollup import CHUNK_TABLE, LINEAGE_TABLE

from perfbench import queries
from perfbench.workload import QueryMix, read_table, surviving_days

#: tables whose per-day row counts and checksums lineage commits
LINEAGE_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", CHUNK_TABLE)
#: kernel fields a tier window carries, compared bit for bit
WINDOW_FIELDS = [c for c, _ in WINDOW_STATE_FIELDS + CORE_FEATURE_FIELDS]
#: moments merged from 1h state against moments of the 1m rates: the
#: sums run in another order, so agreement is relative, at this bound
MERGE_RTOL = 1e-9
SAMPLE = 4


def _epoch(ts: pd.Series) -> np.ndarray:
    """Epoch seconds of naive-UTC or zoned timestamps, any resolution."""
    delta = pd.to_datetime(ts, utc=True) - pd.Timestamp(0, tz="UTC")
    return (delta // pd.Timedelta(seconds=1)).to_numpy(np.int64)


def _day_start(day: str) -> int:
    return int(np.datetime64(day, "s").astype(np.int64))


def same_bits(a, b) -> bool:
    """Bit-for-bit equal doubles; a NaN matches any NaN (the kernels
    make no promise about NaN payloads)."""
    a = np.ascontiguousarray(a, dtype=np.float64)
    b = np.ascontiguousarray(b, dtype=np.float64)
    if a.shape != b.shape:
        return False
    nan = np.isnan(a)
    return bool(np.array_equal(nan, np.isnan(b))
                and np.array_equal(a[~nan].view(np.uint64), b[~nan].view(np.uint64)))


def chunk_problem(decoded: tuple, ts_1m: np.ndarray, rate_1m: np.ndarray) -> str | None:
    """A decoded ``(ts, values)`` chunk against the 1m tier's epoch
    seconds and rates for the same conversation-day."""
    ts, vals = decoded
    if not np.array_equal(np.asarray(ts, dtype=np.int64), ts_1m):
        return f"timestamps differ ({len(ts)} decoded vs {len(ts_1m)} in rollup_1m)"
    if not same_bits(vals, rate_1m):
        bad = next(i for i in range(len(vals)) if not same_bits(vals[i:i + 1], rate_1m[i:i + 1]))
        return f"value {bad} differs: decoded {vals[bad]!r} vs rate {rate_1m[bad]!r}"
    return None


def check_lineage(root: str) -> list[str]:
    """Each present day partition of each tier holds exactly the rows
    (count and bit_xor of ``row_hash``) its latest lineage commit
    recorded; a day whose latest entry is a retention expiry is gone."""
    lin = read_table(root, LINEAGE_TABLE).sort_values("committed_at", kind="mergesort")
    latest = {
        (r.tier, r.partition_key): r
        for r in lin.itertuples(index=False)  # later commits overwrite earlier
    }
    problems = []
    for table in LINEAGE_TABLES:
        files = read_table(root, table, columns=["day", "row_hash"])
        actual = {
            (table, day): (len(g), int(np.bitwise_xor.reduce(g["row_hash"].to_numpy())))
            for day, g in files.groupby("day")
        }
        for key in sorted(set(actual) | {k for k in latest if k[0] == table}):
            entry = latest.get(key)
            if entry is None:
                problems.append(f"{key}: rows without a lineage commit")
            elif entry.source_snapshot == "retention-expired":
                if key in actual:
                    problems.append(f"{key}: expired but still present")
            elif actual.get(key) != (entry.row_count, entry.checksum):
                problems.append(f"{key}: files {actual.get(key)} vs lineage "
                                f"{(entry.row_count, entry.checksum)}")
    return problems


def check_minute_span(root: str, spans: pd.DataFrame, cutoff: datetime.date) -> list[str]:
    """Every conversation has one 1m row per minute of its observed
    span, from its first to its last turn in the transcripts, clipped
    at the retention cutoff."""
    first = np.maximum(spans["first"].to_numpy(), _day_start(cutoff.isoformat()))
    want = pd.Series(np.clip((spans["last"].to_numpy() - first) // 60 + 1, 0, None),
                     index=spans["conv_id"])
    got = read_table(root, "rollup_1m", columns=["conv_id"]).groupby("conv_id").size()
    both = pd.concat([want.rename("want"), got.rename("got")], axis=1).fillna(0)
    bad = both[both["want"] != both["got"]]
    return [
        f"{len(bad)} conversations: 1m rows != minute span, e.g. "
        + ", ".join(f"{c} {int(r.got)} vs {int(r.want)}" for c, r in bad.head(3).iterrows())
    ] if len(bad) else []


def _rates(root: str, convs, cutoff: datetime.date) -> dict:
    """``{conv: (epoch seconds, rate)}`` of the 1m tier from ``cutoff`` on."""
    pdf = read_table(root, "rollup_1m", columns=["conv_id", "minute_ts", "rate", "day"],
                     convs=convs)
    pdf = pdf[pdf["day"] >= cutoff.isoformat()]
    pdf = pdf.assign(t=_epoch(pdf["minute_ts"])).sort_values(["conv_id", "t"], kind="mergesort")
    return {
        c: (g["t"].to_numpy(np.int64), g["rate"].to_numpy(np.float64))
        for c, g in pdf.groupby("conv_id")
    }


_EMPTY = (np.zeros(0, np.int64), np.zeros(0, np.float64))


def _between(series: tuple, lo: int, hi: int) -> tuple:
    t, v = series
    keep = (t >= lo) & (t < hi)
    return t[keep], v[keep]


def check_chunks(root: str, convs, cutoff: datetime.date, rates: dict) -> list[str]:
    """The sampled conversations' Gorilla chunks decode to the 1m
    tier's rates bit for bit."""
    rows = read_table(root, CHUNK_TABLE, columns=["conv_id", "day", "ts_bytes", "val_bytes"],
                      convs=convs)
    problems = []
    for r in rows[rows["day"] >= cutoff.isoformat()].itertuples(index=False):
        start = _day_start(r.day)
        decoded = compression.decode_chunk(r.ts_bytes, r.val_bytes)
        p = chunk_problem(decoded, *_between(rates.get(r.conv_id, _EMPTY), start, start + 86400))
        if p:
            problems.append(f"chunk {r.conv_id}/{r.day}: {p}")
    return problems


def kernel_window(x: np.ndarray) -> dict:
    """The tier kernel's state and features for one window."""
    X = x[None, :]
    mn = X.min(axis=1, keepdims=True)
    mx = X.max(axis=1, keepdims=True)
    feats = core_features_batch(X, mn=mn, mx=mx)
    feats.update(window_state_batch(X, mn=mn.ravel(), mx=mx.ravel()))
    return {k: feats[k][0] for k in WINDOW_FIELDS}


def check_windows(root: str, convs, cutoff: datetime.date, rates: dict) -> list[str]:
    """The sampled conversations' 1h and 1d windows equal the
    driver-side kernel run over the same conversation's 1m rates."""
    problems = []
    for table, width, ts_col in (("rollup_1h", 3600, "hour_ts"),
                                 ("rollup_1d", 86400, "day_ts")):
        rows = read_table(root, table, columns=["conv_id", "day", ts_col, *WINDOW_FIELDS],
                          convs=convs)
        rows = rows[rows["day"] >= cutoff.isoformat()]
        for r, b in zip(rows.to_dict("records"), _epoch(rows[ts_col])):
            _t, x = _between(rates.get(r["conv_id"], _EMPTY), b, b + width)
            where = f"{table} {r['conv_id']}@{b}"
            if x.size == 0:
                problems.append(f"{where}: no 1m rows")
                continue
            want = kernel_window(x)
            bad = [k for k in WINDOW_FIELDS if not same_bits([r[k]], [want[k]])]
            if bad:
                problems.append(f"{where}: {bad[0]} {r[bad[0]]!r} vs kernel {want[bad[0]]!r}")
    return problems


def direct_moments(x: np.ndarray) -> dict:
    """The moments ``functions.moments_from_state`` derives, from the
    raw values in one pass."""
    n = x.size
    m1, m2, m3, m4 = (np.sum(x ** k) / n for k in (1, 2, 3, 4))
    var = m2 - m1 * m1
    std = np.sqrt(var)
    mu3 = m3 - 3 * m1 * m2 + 2 * m1 ** 3
    mu4 = m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 ** 4
    guard = std > 1e-9
    return {
        "n": n, "mean": m1, "variance": var, "std_dev": std,
        "skewness": mu3 / var ** 1.5 if guard else None,
        "kurtosis": mu4 / (var * var) - 3.0 if guard else None,
        "min": x.min(), "max": x.max(), "range": x.max() - x.min(),
        "sum": np.sum(x), "absolute_energy": np.sum(x * x),
    }


def check_merge(merges: list, rates: dict) -> list[str]:
    """``merge_1d`` reads (moments merged from 1h state) equal the
    moments of the 1m rates over the same days within MERGE_RTOL."""
    problems = []
    for target, pdf in merges:
        lo = _day_start(target["d0"].isoformat())
        hi = _day_start(target["d1"].isoformat()) + 86400
        for row in pdf.itertuples(index=False):
            _t, x = _between(rates.get(row.conv_id, _EMPTY), lo, hi)
            want = direct_moments(x)
            for k, w in want.items():
                g = getattr(row, k)
                if w is None or g is None or np.isnan(g):
                    ok = w is None and (g is None or np.isnan(g))
                else:
                    ok = np.isclose(g, w, rtol=MERGE_RTOL, atol=MERGE_RTOL * abs(want["max"]))
                if not ok:
                    problems.append(f"merge_1d {row.conv_id} {k}: {g!r} vs {w!r}")
    return problems


def run_all(root: str, out: dict, spans: pd.DataFrame | None, rng) -> dict[str, list[str]]:
    """Every check by name -> its problems; ``spans`` is ``live``'s
    input: per conversation its first and last minute."""
    state = out["state"]
    cutoff, mix = state["cutoff"], state["mix"]
    if isinstance(mix, QueryMix):
        return queries.check_all(mix.sf_dir, mix.results)
    convs = sorted(surviving_days(root, cutoff))
    sample = sorted(rng.choice(convs, size=min(SAMPLE, len(convs)), replace=False).tolist())
    merges = [(t, pdf) for name, t, pdf in mix.results if name == "merge_1d"][:SAMPLE]
    rates = _rates(root, set(sample).union(*(t["convs"] for t, _ in merges)), cutoff)
    retry = out["retry_counts"]
    return {
        "lineage_counts": check_lineage(root),
        "minute_span": check_minute_span(root, spans, cutoff),
        "chunk_roundtrip": check_chunks(root, sample, cutoff, rates),
        "window_kernel": check_windows(root, sample, cutoff, rates),
        "merge_1d": check_merge(merges, rates),
        "retry_zero": [f"retry committed {retry}"] if any(retry.values()) else [],
    }
