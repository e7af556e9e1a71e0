#!/usr/bin/env python3
"""Workload benchmark for oakstore_spark.

    python3 perfbench/run.py --workload ticker_store --seed 1 --seconds 8 --trace 0

Builds one Spark session (``local[N]``, N = min(4, usable CPUs)), sets a
workload up from ``--seed``, warms it up, runs its closed loop for
``--seconds``, checks every output, and prints as the last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``). The line before it is a
``{"record": ...}`` object with the environment, per-kind latency
summaries and output-quality numbers; traced runs also write their spans
to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def peak_rss_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    def __init__(self, spark, seed: int, seconds: float) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.probe = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def attempt(self, st, span: str, kind: str | None, fn):
        """Run one operation under a span, counting it in ``st.attempted``;
        an exception counts in ``st.errors`` and the run goes on.
        Returns (ok, result)."""
        st.attempted += 1
        try:
            with self.probe.span(span, kind=kind):
                return True, fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            st.errors += 1
            self.log(f"{span} failed: {type(e).__name__}: {e}")
            return False, None

    @contextmanager
    def overhead(self):
        """Bookkeeping a traced run adds outside the spans it times."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.probe.overhead_s += time.perf_counter() - t0


def workloads() -> dict:
    from oakbench.curation import CurationBatch
    from oakbench.stores import TickerStore

    return {w.name: w for w in (TickerStore(), CurationBatch())}


def environment(n_local: int) -> Path:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let Python workers import the package from it."""
    work = ROOT / ".perfbench_work" / str(os.getpid())
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_local),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # no /tmp/hsperfdata_* files from the launcher and driver JVMs
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])),
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell",
    })
    return work


def summarize(samples: dict[str, list[float]]) -> dict:
    from oakbench.probe import tail

    out = {}
    for kind, xs in samples.items():
        t = tail(xs)
        out[kind] = {"n": len(xs), "p50_s": statistics.median(xs), "max_s": max(xs),
                     "tail": None if t is None else {"pct": t[0], "s": t[1], "n": t[2]}}
    return out


def run(args) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = workloads()[args.workload]
    n_local = min(4, cpus())
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    work = environment(n_local)
    spark = None
    try:
        import pyspark

        from oakbench.probe import Probe
        from oakstore_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # the session is ready once its first job ran
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, args.seed, args.seconds)
        ctx.probe = Probe(spark, traced=False)

        setup_times, state = [], None
        for rep in range(SETUP_REPS):
            if state is not None:
                shutil.rmtree(work / f"setup{rep - 1}", ignore_errors=True)
            t0 = time.perf_counter()
            state = wl.setup(ctx, work / f"setup{rep}")
            setup_times.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        wl.warmup(ctx, state)
        warmup_s = time.perf_counter() - t0

        probe = ctx.probe = Probe(spark, traced=bool(args.trace))
        t0 = time.perf_counter()
        wl.run(ctx, state, t0 + args.seconds)
        measured_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        probe.collect()
        collect_s = time.perf_counter() - t0
        failed, quality = wl.check(ctx, state)

        rss_python, rss_jvm = peak_rss_mb("self"), peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        samples = probe.samples
        op_times = [x for xs in samples.values() for x in xs]
        e2e = {
            "setup_s": session_s + statistics.median(setup_times),
            "op_p50_s": math.exp(statistics.fmean(math.log(statistics.median(xs)) for xs in samples.values())),
            "ops_per_min": 60.0 * len(op_times) / sum(op_times),
        }
        layer = probe.layer_metrics()
        layer.update({
            "session.start_s": session_s,
            "session.peak_rss_jvm_mb": rss_jvm,
            "session.peak_rss_python_mb": rss_python,
            "trace.overhead_s": probe.overhead_s,
            "trace.overhead_frac": probe.overhead_s / measured_s,
        })
        for key, name in (("files_per_item", "store.files_per_item"), ("space_amp", "store.space_amp"),
                          ("dedup_recall", "dedup.recall"), ("minhash_pairs_out", "dedup.minhash.pairs_out"),
                          ("recall_at_10", "similarity.ivf_search.recall_at_10"),
                          ("docs_per_s", "text.pipeline.docs_per_s")):
            if key in quality:
                layer[name] = quality[key]
        chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = layer if args.trace else e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in chosen}

        attempted = state.attempted
        record = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "env": {"nproc": cpus(), "local_n": n_local, "spark": pyspark.__version__,
                    "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                    "steal_frac": steal_share(ticks_start, cpu_ticks()),
                    "commit_protocol": wl.protocol, "inputs": wl.sizes()},
            "setup": {"session_s": session_s, "reps_s": setup_times, "warmup_s": warmup_s},
            "measured_s": measured_s, "collect_s": collect_s,
            "kinds": summarize(samples), "quality": quality,
            "failed_frac": failed / attempted, "end_to_end": e2e,
            "peak_rss_mb": {"jvm": rss_jvm, "python": rss_python},
        }
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        dump = dict(record, per_layer=layer, spans=probe.span_records())
        (out_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(dump, indent=1))
        print(json.dumps({"record": record}))
        return {"correct": failed == 0, "attempted": attempted, "failed": min(failed, attempted),
                "metrics": metrics}
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's scratch is still there
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ticker_store", "curation_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "oakstore_spark" / "__init__.py").is_file() or not (ROOT / "BENCHMARK.json").is_file():
        print("perfbench: run from a checkout that holds oakstore_spark/ and BENCHMARK.json", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
