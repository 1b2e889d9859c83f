"""The closed-loop query workload, ``analytics``.

One client runs passes over a mix of registered queries, each on a
cleared cache (``spark.catalog.clearCache()`` first, because a user
running a query once pays for its caches). Each query reads one of two
seeded data tiers:

- ``tables``: the star schema, events and corpus at sf0.01;
- ``corpus``: ``documents``/``embeddings`` replicated 3x with planted
  exact and near duplicates, where the dedup and nearest-neighbour
  queries have real pairs to find.

The seed sets the data and the query order. The first pass is cold and
reported as ``first_pass_s``; timed passes follow until the run's time is
spent. An untimed check at the end collects the frames the last pass
built and compares each with its DuckDB oracle, or, for the approximate
nearest-neighbour query, checks its recall against the exact top-k.
"""

from __future__ import annotations

import os
import random

import duckdb

from perfbench import datagen
from perfbench.tracing import Tracer, median

TABLES, CORPUS = "tables", "corpus"
# query -> (class, tier). ``floor``: build- and job-heavy queries;
# ``scan``: joins and aggregates; ``python``: work on the Arrow/Python
# boundary; ``stream``: a Structured Streaming replay; ``dedup`` and
# ``ann``: the similarity family on the planted corpus.
MIX = {
    "q18_large_volume_customer": ("scan", TABLES),
    "multimodal_jpeg_decode": ("python", TABLES),
    "stream_sliding_windows": ("stream", TABLES),
    "dedup_exact_groups": ("dedup", CORPUS),
    "dedup_jaccard_pairs": ("floor", CORPUS),
    "sim_topk_pq": ("ann", CORPUS),
}
# Approximate queries have no oracle; their recall@5 against the exact
# top-5 must reach the floor tests/test_operators.py asserts.
RECALL_FLOOR = {"sim_topk_pq": 0.95}
EXACT_TOPK = "sim_topk_bruteforce"
TABLES_SF = 0.01
CORPUS_BASE_DOCS = 250
CORPUS_FACTOR = 3


class QueryWorkload:
    """State of one run: its data tiers, query order and pass records."""

    def __init__(self, seed: int):
        self.seed = seed
        self.order = sorted(MIX)
        random.Random(seed).shuffle(self.order)
        self.tiers: dict[str, str] = {}
        self.passes: list[dict] = []
        self.frames: dict = {}  # query -> its DataFrame from the latest pass
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def generate(self, out_dir: str) -> None:
        """Write both data tiers for the seed under ``out_dir``."""
        tables, corpus = os.path.join(out_dir, TABLES), os.path.join(out_dir, CORPUS)
        datagen.write_tables(tables, self.seed, TABLES_SF)
        datagen.write_corpus(corpus + "-base", self.seed, CORPUS_BASE_DOCS, CORPUS_BASE_DOCS)
        datagen.plant_duplicates(corpus + "-base", corpus, self.seed, CORPUS_FACTOR)
        self.tiers = {TABLES: tables, CORPUS: corpus}

    # -- passes -------------------------------------------------------------

    def run_pass(self, spark, tracer: Tracer) -> None:
        """One pass over the mix, recording a span per build and per run."""
        from etl_file_sync_spark.queries import REGISTRY

        queries = []
        self.frames = {}
        with tracer.span("pass") as whole:
            for name in self.order:
                cls, tier = MIX[name]
                self.attempted += 1
                spark.catalog.clearCache()
                try:
                    with tracer.span("queries", query=name) as build:
                        df = REGISTRY[name].build(spark, self.tiers[tier])
                    with tracer.span("operators", query=name) as run:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a failing query counts; the run goes on
                    self._fail(name, exc)
                    continue
                self.frames[name] = df
                queries.append({"query": name, "class": cls, "build": build, "exec": run})
        self.passes.append({"wall_s": whole["wall_s"], "traced": tracer.enabled, "queries": queries})

    def _fail(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")

    # -- checks -------------------------------------------------------------

    def check(self) -> None:
        """Untimed, after the timed passes: collect each query's frame from
        the last pass and compare it with its reference."""
        from etl_file_sync_spark.queries import REGISTRY
        from tests.conftest import assert_frames_match

        cons = {tier: _oracle_connection(path) for tier, path in self.tiers.items()}
        try:
            for name, df in self.frames.items():
                self.attempted += 1
                con = cons[MIX[name][1]]
                try:
                    if name in RECALL_FLOOR:
                        exact = _pairs(con.sql(REGISTRY[EXACT_TOPK].oracle).df())
                        recall = len(_pairs(df.toPandas()) & exact) / len(exact)
                        if recall < RECALL_FLOOR[name]:
                            raise AssertionError(f"recall@5 {recall:.3f} < {RECALL_FLOOR[name]}")
                    else:
                        assert_frames_match(df, con.sql(REGISTRY[name].oracle))
                except Exception as exc:
                    self._fail(name, exc)
        finally:
            for con in cons.values():
                con.close()

    # -- metrics ------------------------------------------------------------

    def _timed(self, traced: bool) -> list[dict]:
        """Timed passes; a query that raised has no latency in its pass."""
        return [p for p in self.passes[1:] if p["traced"] == traced]

    def _query_medians(self, passes: list[dict]) -> dict[str, float]:
        lat: dict[str, list[float]] = {}
        for p in passes:
            for q in p["queries"]:
                lat.setdefault(q["query"], []).append(q["build"]["wall_s"] + q["exec"]["wall_s"])
        return {name: median(v) for name, v in lat.items()}

    def end_to_end(self) -> dict[str, float]:
        """``pass_s`` is the sum of each query's median latency over the
        untraced timed passes; ``latency_p50_s`` the median of those
        per-query medians."""
        per_query = self._query_medians(self._timed(traced=False))
        return {
            "first_pass_s": self.passes[0]["wall_s"],
            "pass_s": sum(per_query.values()),
            "latency_p50_s": median(list(per_query.values())),
            "passes": len(self._timed(traced=False)),
        }

    def per_layer(self) -> dict[str, float]:
        traced, plain = self._timed(traced=True), self._timed(traced=False)
        last = traced[-1]["queries"]
        build_s = sum(q["build"]["wall_s"] for q in last)
        wall = sum(q["build"]["wall_s"] + q["exec"]["wall_s"] for q in last)
        jobs = sum(q["build"]["jobs"] + q["exec"]["jobs"] for q in last)
        out = {
            "queries.build_s": build_s,
            "queries.build_jobs": sum(q["build"]["jobs"] for q in last),
            "operators.exec_s": wall - build_s,
            "operators.jobs": sum(q["exec"]["jobs"] for q in last),
            "pass.jobs": jobs,
            "pass.stages": sum(q["build"]["stages"] + q["exec"]["stages"] for q in last),
            "pass.tasks": sum(q["build"]["tasks"] + q["exec"]["tasks"] for q in last),
            "pass.s_per_job": wall / jobs,
            "trace.overhead_share": sum(self._query_medians(traced).values())
            / sum(self._query_medians(plain).values()) - 1.0,
            # layers this workload does not run
            "microbatch.batches": 0,
            "pipeline.sink.useful_share": 0.0,
        }
        for cls in sorted({c for c, _ in MIX.values()}):
            qs = [q for q in last if q["class"] == cls]
            out[f"class.{cls}.wall_s"] = sum(q["build"]["wall_s"] + q["exec"]["wall_s"] for q in qs)
            out[f"class.{cls}.jobs"] = sum(q["build"]["jobs"] + q["exec"]["jobs"] for q in qs)
        return out

    def trace_records(self) -> list[dict]:
        """One row per query per pass, for the trace artifact."""
        rows = []
        for i, p in enumerate(self.passes):
            for q in p["queries"]:
                b, e = q["build"], q["exec"]
                row = {"pass": i, "traced": p["traced"], "query": q["query"], "class": q["class"],
                       "build_s": b["wall_s"], "exec_s": e["wall_s"]}
                if p["traced"]:
                    row.update(build_jobs=b["jobs"], jobs=e["jobs"], stages=b["stages"] + e["stages"],
                               tasks=b["tasks"] + e["tasks"])
                rows.append(row)
        return rows


def _oracle_connection(data_dir: str):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, '.duckdb')}'")
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _pairs(pdf) -> set[tuple[int, int]]:
    return set(zip(pdf["query_id"].astype(int), pdf["neighbor_id"].astype(int)))
