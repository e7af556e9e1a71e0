"""Seeded input generators. Each returns the inputs the program receives
plus the ground truth the output checks compare against; the same seed
always gives the same inputs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

OHLCV = ["OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"]


def _ohlcv(rng: np.random.Generator, index: pd.DatetimeIndex, base: float) -> pd.DataFrame:
    n = len(index)
    close = base * np.exp(np.cumsum(rng.normal(0.0, 0.01, n)))
    open_ = close * np.exp(rng.normal(0.0, 0.004, n))
    spread = np.abs(rng.normal(0.0, 0.006, n)) * close
    return pd.DataFrame(
        {
            "OPEN": open_,
            "HIGH": np.maximum(open_, close) + spread,
            "LOW": np.minimum(open_, close) - spread,
            "CLOSE": close,
            "VOLUME": rng.integers(1_000, 5_000_000, n),
        },
        index=index.rename("DATE"),
    )


def business_days(start: str, n: int) -> pd.DatetimeIndex:
    """The first ``n`` weekdays from ``start``."""
    days = np.arange(np.datetime64(start, "D"), np.datetime64(start, "D") + n * 7 // 5 + 7)
    return pd.DatetimeIndex(days[np.is_busday(days)][:n].astype("datetime64[ns]"))


def daily_bars(rng: np.random.Generator, n_rows: int, start: str) -> pd.DataFrame:
    """``n_rows`` business-day bars from ``start`` (DATE index)."""
    return _ohlcv(rng, business_days(start, n_rows), float(rng.uniform(10, 500)))


def resend(rng: np.random.Generator, frame: pd.DataFrame, n_new: int, n_overlap: int) -> pd.DataFrame:
    """An append batch for a daily item: its last ``n_overlap`` days sent
    again with different values (the store keeps the old ones) plus
    ``n_new`` new business days."""
    new_idx = pd.bdate_range(frame.index[-1] + pd.offsets.BDay(1), periods=n_new)
    old_idx = frame.index[-n_overlap:]
    idx = old_idx.append(new_idx)
    return _ohlcv(rng, pd.DatetimeIndex(idx), float(frame["CLOSE"].iloc[-1]))


def trading_minutes(days: pd.DatetimeIndex, minutes_per_day: int) -> pd.DatetimeIndex:
    """Minute timestamps from 09:30 for ``minutes_per_day`` minutes on each day."""
    offs = pd.to_timedelta(570 + np.arange(minutes_per_day), unit="m")
    stamps = days.values[:, None] + offs.values[None, :]
    return pd.DatetimeIndex(stamps.ravel())


def minute_bars(rng: np.random.Generator, days: pd.DatetimeIndex, minutes_per_day: int) -> pd.DataFrame:
    return _ohlcv(rng, trading_minutes(days, minutes_per_day), float(rng.uniform(10, 500)))


# -- document corpus ---------------------------------------------------------

_STOP = ["the", "and", "of", "to", "in"]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words - set(_STOP)))


def _shingles(text: str, n: int = 3) -> set[str]:
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus(
    rng: np.random.Generator, n_docs: int, n_exact: int, n_near: int, n_junk: int
) -> tuple[pd.DataFrame, set[int], list[tuple[int, int]], list[tuple[int, int]]]:
    """``n_docs`` documents (doc_id, text). Of them, ``n_junk`` are short,
    punctuation-heavy docs the quality filter must drop; ``n_exact`` are
    verbatim copies of an earlier doc and ``n_near`` are copies with a few
    words replaced (char-3-gram Jaccard >= 0.9 against the original).

    Returns (docs, junk ids, exact pairs, near pairs); pairs are
    (original id, copy id)."""
    vocab = _vocab(rng, 20_000)
    n_base = n_docs - n_exact - n_near - n_junk
    lens = rng.integers(120, 200, n_base)
    words = rng.choice(vocab, int(lens.sum())).astype(object)
    stops = rng.random(len(words)) < 0.2
    words[stops] = rng.choice(_STOP, int(stops.sum()))
    ends = np.cumsum(lens)
    texts: list[str] = [" ".join(words[e - n : e]) for e, n in zip(ends, lens)]
    exact, near = [], []
    for _ in range(n_exact):
        src = int(rng.integers(n_base))
        exact.append((src, len(texts)))
        texts.append(texts[src])
    while len(near) < n_near:
        src = int(rng.integers(n_base))
        words = texts[src].split(" ")
        for pos in rng.choice(len(words), 3, replace=False):
            words[pos] = str(rng.choice(vocab))
        copy = " ".join(words)
        if jaccard(texts[src], copy) >= 0.9:
            near.append((src, len(texts)))
            texts.append(copy)
    junk = set(range(len(texts), len(texts) + n_junk))
    for _ in range(n_junk):
        texts.append(" ".join(f"{w}!?" for w in rng.choice(vocab, 4)))
    order = rng.permutation(len(texts))  # doc_id -> position in the original list
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts))
    docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                         "text": [texts[i] for i in order]})

    def remap(pairs):
        return [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs]

    return docs, {int(ids[j]) for j in junk}, remap(exact), remap(near)


# -- embeddings --------------------------------------------------------------


def clustered_embeddings(
    rng: np.random.Generator, n: int, dim: int, n_clusters: int, n_queries: int, k: int = 10
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(corpus [n, dim] float32, queries [n_queries, dim] float32, exact
    top-``k`` corpus ids per query by cosine, ties broken by lower id)."""
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    labels = rng.integers(n_clusters, size=n + n_queries)
    pts = (centers[labels] + rng.normal(0.0, 0.6, (n + n_queries, dim))).astype(np.float32)
    base, queries = pts[:n], pts[n:]
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (b / np.linalg.norm(b, axis=1, keepdims=True)).T
    cand = np.sort(np.argpartition(-sims, 4 * k, axis=1)[:, : 4 * k], axis=1)  # ascending ids
    top = np.take_along_axis(cand, np.argsort(-np.take_along_axis(sims, cand, 1), axis=1, kind="stable"), 1)
    return base, queries, top[:, :k]


# -- star-schema tables for the registered queries ---------------------------


def star_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """The synthetic tables the query registry reads (same names and
    column types as the repo's test data), ~4 lineitems per order."""
    n_cust, n_part, n_supp = n_orders // 10, n_orders // 7, max(n_orders // 150, 10)
    n_line, n_events, n_docs, n_vecs = n_orders * 4, n_orders * 2 // 3, 500, 500
    day = np.datetime64("1995-01-01", "us")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    colors = np.array(["red", "blue", "green", "small", "large", "black", "white", "steel"])
    things = np.array(["widget", "bolt", "plate", "ring", "gear", "valve", "pipe", "nut"])
    words = np.array("the a key row scan slow fast table value part hash merge batch spark line "
                     "sort window join order data column agg small big filter stream query "
                     "customer group vector".split())
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(segs, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{c} {t}" for c, t in zip(rng.choice(colors, n_part), rng.choice(things, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]), n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": day + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
            "l_shipdate": day + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
        }),
        "events": pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(n_events // 60, 20), n_events),
            "event_type": rng.choice(np.array(["view", "click", "purchase", "signup", "error"]), n_events),
            "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
        "documents": pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": [" ".join(rng.choice(words, int(rng.integers(8, 80)))) for _ in range(n_docs)],
            "lang": rng.choice(np.array(["en", "fr", "de", "es", "zh"]), n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(rng.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)),
                                  type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }),
    }
    docs = t["documents"]
    t["documents"] = docs.append_column(
        "n_chars", pa.array([len(s) for s in docs.column("text").to_pylist()], type=pa.int64())
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir) -> None:
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
