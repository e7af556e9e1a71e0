"""``curation_batch``: one LLM-data curation pass over a seeded corpus, one
pass of registered queries over generated star-schema tables, then a
closed loop of IVF search batches. ``store.py`` does no work here."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from oakbench import checks, gen

K = 10
# one registered query per area (joins, multi-way joins, time buckets,
# graph); each has a DuckDB oracle in the registry
QUERIES = (
    "q03_shipping_priority",
    "q09_product_profit",
    "q_resample_hourly",
    "q_graph_degrees",
)
TABLE_ORDERS = 8000  # orders rows; lineitem has four per order
TABLE_SEED = 20240601  # the star tables are the same on every seed


@dataclass
class CurationState:
    d: Path
    rng: np.random.Generator
    junk: set
    exact: list
    near: list
    truth: np.ndarray
    queries: np.ndarray
    n_docs: int
    out: Path | None = None  # the timed pass's outputs
    answers: list = field(default_factory=list)  # (query name, result frame)
    searches: list = field(default_factory=list)  # (query ids, result frame)
    attempted: int = 0
    errors: int = 0


class CurationBatch:
    """Per run: ``doc_stats`` quality filter -> ``exact_dedup`` ->
    ``minhash_lsh_pairs`` -> ``dedup_clusters`` -> ``build_ivf_index``,
    each stage persisted as Parquet, then each registered query in
    ``QUERIES`` once, then ``search_ivf_index`` batches of 20 queries."""

    name = "curation_batch"
    protocol = "none"
    n_docs, n_exact, n_near, n_junk = 2000, 100, 100, 100
    n_vecs, dim, n_clusters, n_queries, batch = 6000, 64, 16, 200, 20
    n_centroids, n_probe = 32, 6
    text_stages = ("doc_stats", "exact_dedup", "minhash", "clusters")  # docs_per_s counts these

    def setup(self, ctx, d: Path) -> CurationState:
        rng = np.random.default_rng([ctx.seed, 3])
        docs, junk, exact, near = gen.corpus(rng, self.n_docs, self.n_exact, self.n_near, self.n_junk)
        base, queries, truth = gen.clustered_embeddings(rng, self.n_vecs, self.dim, self.n_clusters, self.n_queries, K)
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), d / "docs.parquet")
        pq.write_table(
            pa.table({"vec_id": np.arange(self.n_vecs, dtype=np.int64),
                      "embedding": pa.array(list(base), type=pa.list_(pa.float32()))}),
            d / "vectors.parquet",
        )
        gen.write_tables(gen.star_tables(np.random.default_rng(TABLE_SEED), TABLE_ORDERS), d)
        return CurationState(d, rng, junk, exact, near, truth, queries, len(docs))

    def sizes(self) -> dict:
        return {"docs": self.n_docs, "planted_exact": self.n_exact, "planted_near": self.n_near,
                "junk_docs": self.n_junk, "vectors": self.n_vecs, "dim": self.dim,
                "query_pool": self.n_queries, "queries_per_batch": self.batch,
                "registered_queries": len(QUERIES), "star_orders": TABLE_ORDERS}

    def batch_pass(self, ctx, st: CurationState, out: Path) -> None:
        from pyspark.sql import functions as F

        from oakstore_spark.operators import dedup, similarity, text

        spark = ctx.spark
        read = spark.read.parquet

        def stats():
            kept = text.doc_stats(read(str(st.d / "docs.parquet")), "text").filter(F.col("quality") >= 0.5)
            kept.select("doc_id", "text").write.parquet(str(out / "filtered"))

        def exact():
            filtered = read(str(out / "filtered"))
            reps = dedup.exact_dedup(filtered, "doc_id", "text")
            filtered.join(reps.select(F.col("keep_id").alias("doc_id")), "doc_id").write.parquet(str(out / "survivors"))

        def minhash():
            dedup.minhash_lsh_pairs(read(str(out / "survivors")), "doc_id", "text").write.parquet(str(out / "pairs"))

        def clusters():
            dedup.dedup_clusters(read(str(out / "pairs"))).write.parquet(str(out / "clusters"))

        def ivf_build():
            similarity.build_ivf_index(read(str(st.d / "vectors.parquet")), self.dim, str(out / "ivf"),
                                       n_centroids=self.n_centroids)

        for kind, span, fn in (
            ("doc_stats", "text.doc_stats", stats),
            ("exact_dedup", "dedup.exact", exact),
            ("minhash", "dedup.minhash", minhash),
            ("clusters", "dedup.clusters", clusters),
            ("ivf_build", "similarity.ivf_build", ivf_build),
        ):
            ok, _ = ctx.attempt(st, span, kind, fn)
            if not ok:
                return

    def query_pass(self, ctx, st: CurationState) -> None:
        """Each registered query once, fetched to pandas; checked against
        its DuckDB oracle after the run."""
        from oakstore_spark import queries

        for name in QUERIES:
            ok, got = ctx.attempt(st, f"queries.{name}", "query",
                              lambda name=name: queries.QUERIES[name](ctx.spark, str(st.d)).toPandas())
            if ok:
                st.answers.append((name, got))
        if ctx.probe.traced:
            from oakstore_spark.sources import TABLES, table

            t0 = time.perf_counter()
            with ctx.probe.span("sources.tables.scan"):
                for t in TABLES:
                    table(ctx.spark, str(st.d), t).write.format("noop").mode("overwrite").save()
            ctx.probe.note("sources.tables.scan_s", time.perf_counter() - t0)

    def search(self, ctx, st: CurationState, index: Path) -> None:
        from oakstore_spark.operators.similarity import search_ivf_index

        qids = np.sort(st.rng.choice(self.n_queries, self.batch, replace=False))
        qpdf = pd.DataFrame({"query_id": (qids + 10**9).astype(np.int64),
                             "embedding": [st.queries[q].astype(np.float64).tolist() for q in qids]})

        def op():
            qdf = ctx.spark.createDataFrame(qpdf, "query_id long, embedding array<double>")
            return search_ivf_index(ctx.spark, str(index), qdf, K, n_probe=self.n_probe).toPandas()

        ok, got = ctx.attempt(st, "similarity.ivf_search", "ivf_search", op)
        if ok:
            got["query_id"] -= 10**9
            st.searches.append((qids, got))

    def warmup(self, ctx, st: CurationState) -> None:
        """The whole pass once on the same inputs, and each query once
        through the noop sink, untimed: the timed pass then measures the
        operators, not JIT compilation and Python worker start-up."""
        from oakstore_spark import queries

        queries.load_all()
        self.batch_pass(ctx, st, st.d / "warm")
        for name in QUERIES:
            ctx.attempt(st, f"queries.{name}", None,
                    lambda name=name: queries.QUERIES[name](ctx.spark, str(st.d))
                    .write.format("noop").mode("overwrite").save())
        self.search(ctx, st, st.d / "warm" / "ivf")
        st.searches.clear()

    def run(self, ctx, st: CurationState, deadline: float) -> None:
        """The batch pass and the query pass run once whatever the
        deadline; the search loop then runs for the run's seconds (at
        least two batches)."""
        out = st.d / "pass"
        self.batch_pass(ctx, st, out)
        self.query_pass(ctx, st)
        st.out = out
        deadline = time.perf_counter() + ctx.seconds
        n = 0
        while n < 2 or time.perf_counter() < deadline:
            self.search(ctx, st, out / "ivf")
            n += 1

    def check(self, ctx, st: CurationState) -> tuple[int, dict]:
        spark, out = ctx.spark, st.out
        failed = st.errors
        quality: dict = {}
        try:
            kept = set(spark.read.parquet(str(out / "filtered")).select("doc_id").toPandas()["doc_id"])
            if kept != set(range(st.n_docs)) - st.junk:
                failed += 1
                ctx.log("check failed: quality filter kept the wrong docs")
            survivors = set(spark.read.parquet(str(out / "survivors")).select("doc_id").toPandas()["doc_id"])
            rep = checks.representatives(st.exact)  # copy -> lowest id of its exact group
            groups = set(rep.values())
            exact_ok = sum(
                len(survivors & {i for i, r in rep.items() if r == g}) == 1 and g in survivors for g in groups
            ) / len(groups)
            clusters = spark.read.parquet(str(out / "clusters")).toPandas()
            pairs_out = spark.read.parquet(str(out / "pairs")).count()
            # a near copy of a doc exact dedup dropped must join that doc's representative
            near = [tuple(sorted((rep.get(a, a), rep.get(b, b)))) for a, b in st.near]
            near_recall = checks.pair_recall(checks.cluster_pairs(clusters), near)
            quality.update({"dedup_recall": (exact_ok * len(groups) + near_recall * len(near))
                            / (len(groups) + len(near)),
                            "exact_recall": exact_ok, "near_recall": near_recall,
                            "minhash_pairs_out": pairs_out})
            if exact_ok < 1.0 or near_recall < 0.95:
                failed += 1
                ctx.log(f"check failed: dedup recall exact={exact_ok:.4f} near={near_recall:.4f}")
        except Exception as e:  # noqa: BLE001 - a stage failed; already counted
            ctx.log(f"dedup outputs unreadable: {e}")
        failed += self.check_queries(ctx, st)
        recalls = [checks.recall_at_k(got, st.truth, qids, K) for qids, got in st.searches]
        if recalls:
            quality["recall_at_10"] = float(np.mean(recalls))
            low = sum(r < 0.9 for r in recalls)
            failed += low
            if low:
                ctx.log(f"check failed: {low} search batches with recall@10 < 0.9")
        stage_s = sum(statistics.median(ctx.probe.samples[k]) for k in self.text_stages if ctx.probe.samples[k])
        if stage_s:
            quality["docs_per_s"] = st.n_docs / stage_s
        return failed, quality

    def check_queries(self, ctx, st: CurationState) -> int:
        import duckdb

        from oakstore_spark import queries
        from oakstore_spark.sources import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{st.d}/{t}.parquet')")
        failed = 0
        for name, got in st.answers:
            why = checks.query_matches(got, con.sql(queries.ORACLES[name]).df())
            if why:
                failed += 1
                ctx.log(f"check failed: {name}: {why}")
        con.close()
        return failed
