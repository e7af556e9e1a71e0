"""The ``ticker_store`` workload: a few dozen daily-bar items with the
default rename commits, where the fixed cost per operation dominates."""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from oakbench import checks, gen

ROW_BYTES = 8 * (1 + len(gen.OHLCV))  # DATE + five 8-byte columns, as the user sends them
ALL_TIME = (datetime(1900, 1, 1), datetime(2100, 1, 1))


def live_files(item: Path, years: range | None = None) -> list[Path]:
    """Parquet files of a rename-protocol item, optionally only those of
    the ``_oak_year`` partitions in ``years``."""
    return [
        f
        for d in sorted(item.glob("_oak_year=*"))
        if years is None or int(d.name.split("=", 1)[1]) in years
        for f in sorted(d.glob("*.parquet"))
    ]


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


@dataclass
class StoreState:
    store: object
    root: Path
    rng: np.random.Generator
    oracle: dict[str, pd.DataFrame] = field(default_factory=dict)
    pool: dict[str, pd.DataFrame] = field(default_factory=dict)
    pending: list = field(default_factory=list)  # (what, got, want, equal) checked after the run
    mutations: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    errors: int = 0


class TickerStore:
    """A few dozen daily-bar items of ~9k rows each (the reference's MSFT
    size), default rename commits. Per cycle: create an item, an
    overlapping append (a few new days plus 20 re-sent days, old wins), a
    1-year slice, a monthly ``Item.resample``, a cross-item yearly
    ``read_multi`` + ``resample_ohlcv`` over every item, then ``compact``
    + ``vacuum`` of one item (maintenance: timed in traced runs, not an
    end-to-end operation kind)."""

    name = "ticker_store"
    protocol = "rename"
    n_items, n_rows, n_initial = 36, 9000, 1
    cycle = ("write", "append", "slice", "resample", "multi_resample")

    def setup(self, ctx, d: Path) -> StoreState:
        from oakstore_spark.store import Store

        rng = np.random.default_rng([ctx.seed, 1])
        st = StoreState(Store(d / "store", spark=ctx.spark, commit_protocol=self.protocol), d / "store", rng)
        st.pool = {f"T{i:02d}": gen.daily_bars(rng, self.n_rows, "1990-01-01") for i in range(self.n_items)}
        for key in list(st.pool)[: self.n_initial]:
            st.store[key] = st.oracle[key] = st.pool.pop(key)
        return st

    def sizes(self) -> dict:
        return {"items": self.n_items, "rows_per_item": self.n_rows, "initial_items": self.n_initial}

    def item_dir(self, st: StoreState, key: str) -> Path:
        return st.root / "items" / key

    # -- operations ----------------------------------------------------------

    def slice(self, ctx, st, key, a, b):
        """``item[a:b]`` checked against the oracle rows; traced runs also
        time ``Item.df(a, b)`` alone and count the files and footer rows of
        the year partitions the range touches."""
        item = st.store[key]
        if ctx.probe.traced:
            with ctx.overhead():
                files = live_files(self.item_dir(st, key), range(a.year, b.year + 1))
                file_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            t0 = time.perf_counter()
            with ctx.probe.span("store.slice.plan"):
                item.df(a, b)
            ctx.probe.note("store.slice.plan_s", time.perf_counter() - t0)
        ok, got = ctx.attempt(st, "store.slice", "slice", lambda: item[a:b])
        if ok:
            st.pending.append((f"slice {key}", got, st.oracle[key].loc[a:b], checks.frames_equal))
            if ctx.probe.traced:
                ctx.probe.note("store.slice.files_scanned", len(files))
                ctx.probe.note("store.slice.file_rows_per_row_returned", file_rows / max(len(got), 1))

    def append(self, ctx, st, key, batch):
        item_dir = self.item_dir(st, key)
        if ctx.probe.traced:
            with ctx.overhead():
                before = set(item_dir.rglob("*.parquet"))
        before_rows = len(st.oracle[key])

        def op():
            item = st.store[key]
            item += batch

        ok, _ = ctx.attempt(st, "store.append", "append", op)
        if not ok:
            return
        st.oracle[key] = checks.append_old_wins(st.oracle[key], batch)
        st.mutations[key] = st.mutations.get(key, 0) + 1
        if ctx.probe.traced:
            with ctx.overhead():
                written = sum(p.stat().st_size for p in set(item_dir.rglob("*.parquet")) - before)
            ctx.probe.note("store.append.bytes_written_per_user_byte", written / (len(batch) * ROW_BYTES))
            ctx.probe.note("store.append.rows_kept_per_row_sent", (len(st.oracle[key]) - before_rows) / len(batch))

    def write(self, ctx, st, key, frame):
        def op():
            st.store[key] = frame

        ok, _ = ctx.attempt(st, "store.write", "write", op)
        if ok:
            st.oracle[key] = frame
            st.mutations[key] = st.mutations.get(key, 0) + 1

    # -- loop and checks -----------------------------------------------------

    def run(self, ctx, st: StoreState, deadline: float) -> None:
        """Closed loop of whole cycles, ending at the cycle boundary nearest
        the deadline (at least one cycle)."""
        while True:
            t0 = time.perf_counter()
            for kind in self.cycle:
                getattr(self, f"op_{kind}")(ctx, st)
            self.maintain(ctx, st)
            now = time.perf_counter()
            if now + (now - t0) / 2 >= deadline:
                return

    def warmup(self, ctx, st: StoreState) -> None:
        """One untimed op of each kind the set-up did not already run."""
        for kind in self.cycle:
            if kind != "write":
                getattr(self, f"op_{kind}")(ctx, st)
        self.maintain(ctx, st)

    def check(self, ctx, st: StoreState) -> tuple[int, dict]:
        """Failed checks, plus quality numbers for the record."""
        failed = 0
        for what, got, want, equal in st.pending:
            if not equal(got, want):
                failed += 1
                ctx.log(f"check failed: {what}")
        # every mutated item must read back exactly as the oracle says
        keys = sorted(st.mutations)
        try:
            final = st.store.read_multi(keys, *ALL_TIME).toPandas()
        except Exception as e:  # noqa: BLE001
            ctx.log(f"final read failed: {e}")
            final = None
        for key in keys:
            ok = final is not None and checks.frames_equal(
                final[final["KEY"] == key].set_index("DATE").sort_index()[gen.OHLCV], st.oracle[key])
            if not ok:
                ctx.log(f"check failed: final state of {key} after {st.mutations[key]} writes/appends")
                failed += max(st.mutations[key], 1)
        user_bytes = sum(len(f) for f in st.oracle.values()) * ROW_BYTES
        return st.errors + failed, {
            "space_amp": tree_bytes(st.root / "items") / user_bytes,
            "files_per_item": float(np.mean([len(live_files(self.item_dir(st, k))) for k in st.oracle])),
        }

    def pick(self, st: StoreState) -> str:
        keys = sorted(st.oracle)
        return keys[int(st.rng.integers(len(keys)))]

    def op_write(self, ctx, st):
        if st.pool:
            key = next(iter(st.pool))
            self.write(ctx, st, key, st.pool.pop(key))

    def op_append(self, ctx, st):
        key = self.pick(st)
        self.append(ctx, st, key, gen.resend(st.rng, st.oracle[key], int(st.rng.integers(3, 9)), 20))

    def op_slice(self, ctx, st):
        key = self.pick(st)
        idx = st.oracle[key].index
        a = idx[int(st.rng.integers(len(idx) - 300))].to_pydatetime()
        self.slice(ctx, st, key, a, a.replace(year=a.year + 1))

    def op_resample(self, ctx, st):
        key = self.pick(st)

        def op():
            return st.store[key].resample("month").toPandas().set_index("DATE")

        ok, got = ctx.attempt(st, "store.resample", "resample", op)
        if ok:
            st.pending.append((f"resample {key}", got, checks.ohlcv_bars(st.oracle[key], "M"), checks.bars_close))

    def op_multi_resample(self, ctx, st):
        from oakstore_spark.operators.timeseries import resample_ohlcv

        keys = sorted(st.oracle)

        def op():
            t0 = time.perf_counter()
            with ctx.probe.span("store.read_multi"):
                sdf = st.store.read_multi(keys)
            ctx.probe.note("store.read_multi.plan_s", time.perf_counter() - t0)
            return resample_ohlcv(sdf, "DATE", "year", keys=["KEY"]).toPandas()

        ok, got = ctx.attempt(st, "timeseries.resample_ohlcv", "multi_resample", op)
        if ok:
            for key in keys:
                mine = got[got["KEY"] == key].set_index("bucket_ts").sort_index()[gen.OHLCV]
                st.pending.append((f"multi_resample {key}", mine, checks.ohlcv_bars(st.oracle[key], "Y"),
                                   checks.bars_close))

    def maintain(self, ctx, st):
        key = self.pick(st)

        def op():
            with ctx.probe.span("store.compact"):
                st.store.compact(key)
            with ctx.probe.span("store.vacuum"):
                st.store.vacuum(key, retention_sec=0)

        ctx.attempt(st, "store.maintain", None, op)
        st.mutations.setdefault(key, 0)
