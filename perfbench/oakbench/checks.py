"""Output oracles: pandas for store reads and resampling, planted truth for
dedup, numpy brute force for IVF search, DuckDB for registered queries."""

from __future__ import annotations

import numpy as np
import pandas as pd


def append_old_wins(current: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The item after ``current += batch``: rows whose DATE is already
    stored keep their stored values."""
    fresh = batch[~batch.index.isin(current.index)]
    return pd.concat([current, fresh]).sort_index()


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact equality of a store read against the oracle rows."""
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    if not np.array_equal(pd.DatetimeIndex(got.index).values, pd.DatetimeIndex(want.index).values):
        return False
    return all(np.array_equal(got[c].to_numpy(), want[c].to_numpy()) for c in want.columns)


def ohlcv_bars(frame: pd.DataFrame, freq: str) -> pd.DataFrame:
    """OHLCV downsampling oracle: first/max/min/last/sum per bucket.
    ``freq`` is a pandas period alias ('M' month, 'h' hour)."""
    bucket = frame.index.to_period(freq).to_timestamp()
    g = frame.groupby(bucket)
    out = pd.DataFrame({
        "OPEN": g["OPEN"].first(),
        "HIGH": g["HIGH"].max(),
        "LOW": g["LOW"].min(),
        "CLOSE": g["CLOSE"].last(),
        "VOLUME": g["VOLUME"].sum(),
    })
    out.index.name = "DATE"
    return out


def bars_close(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Bar equality; float sums may differ in the last digits by
    summation order."""
    if len(got) != len(want):
        return False
    if not np.array_equal(pd.DatetimeIndex(got.index).values, pd.DatetimeIndex(want.index).values):
        return False
    return all(
        np.allclose(got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float), rtol=1e-9, atol=0)
        for c in want.columns
    )


def pair_recall(found: set[tuple[int, int]], planted: list[tuple[int, int]]) -> float:
    return sum(p in found for p in planted) / len(planted)


def representatives(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Member -> lowest id of its connected group, for every id in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def cluster_pairs(assign: pd.DataFrame) -> set[tuple[int, int]]:
    """All (a < b) id pairs that share a cluster in an (id, cluster_id) frame."""
    out: set[tuple[int, int]] = set()
    for _, ids in assign.groupby("cluster_id")["id"]:
        v = sorted(int(i) for i in ids)
        out.update((a, b) for i, a in enumerate(v) for b in v[i + 1 :])
    return out


def recall_at_k(got: pd.DataFrame, truth: np.ndarray, qids: np.ndarray, k: int) -> float:
    """Mean |IVF top-k ∩ exact top-k| / k over the queries in ``qids``."""
    by_q = got.groupby("query_id")["vec_id"].apply(set).to_dict()
    return float(np.mean([len(by_q.get(int(q), set()) & set(truth[q].tolist())) / k for q in qids]))


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def query_matches(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when a query result equals its DuckDB oracle (row count,
    column names, values; floats to 1e-9 relative), else the reason."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    s, o = _canon(spark_pdf), _canon(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a, b = sv.astype(float).to_numpy(), ov.astype(float).to_numpy()
            if not np.all((np.isnan(a) & np.isnan(b)) | np.isclose(a, b, rtol=1e-9, atol=1e-12)):
                return f"values differ in {c}"
        elif not sv.astype(str).equals(ov.astype(str)):
            return f"values differ in {c}"
    return None
