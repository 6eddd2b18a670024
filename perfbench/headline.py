"""The 13 ``bench.HEADLINE`` queries, one at a time, closed loop.

A timed query is its registry function's call plus ``bench.materialize``
(Spark's noop sink), so every output column is computed and nothing is
written. Each pass runs every query once, in a seeded order.

Answers are checked against DuckDB through ``tests.parity`` over the
sf0.01 fixtures, the scale of the repository's own oracle gate (at sf0.1
the DuckDB side alone takes about 30 s). The check runs first; its time
is reported as ``check_s``, apart from ``setup_s``. It warms every
query's code path at the small scale, but the first pass at the timed
scale still runs slower than the ones after it, so one untimed pass
comes before the timed ones.
"""

from __future__ import annotations

import time

import bench
from perfbench.ops import timed

#: ``--seconds`` sets the passes at ``NOMINAL_PASS_S`` each, at least one.
NOMINAL_PASS_S = 20.0
#: b28_cosine_topk asks for the top 5 of the 5 vectors with vec_id < 5.
B28_RESULTS = 5 * 5


def timed_passes(seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S))


def parity(spark, sf_dir: str, tracer, tally) -> float:
    """Check every headline query against its DuckDB oracle; seconds."""
    from hive_plan_service_spark.plans.registry import all_queries
    from tests.parity import check_query

    registry = all_queries()
    t0 = time.perf_counter()
    for name in bench.HEADLINE:
        _, _, error = timed(
            tracer, name, "parity",
            lambda q=registry[name]: check_query(spark, q, sf_dir),
        )
        tally.record(error is None, lambda: f"parity {name}: {error!r}")
    return time.perf_counter() - t0


class Passes:
    """Timed passes over the headline queries."""

    def __init__(self, spark, sf_dir: str, tracer, tally) -> None:
        from hive_plan_service_spark.plans.registry import all_queries

        self.spark, self.sf_dir = spark, sf_dir
        self.tracer, self.tally = tracer, tally
        self.registry = all_queries()
        self.pass_s: list[float] = []
        self.query_s: dict[str, list[float]] = {q: [] for q in bench.HEADLINE}
        self.construct_ms: list[float] = []
        self.py4j: list[int] = []
        self.b28_ops: set[int] = set()

    def run_pass(self, order: list[str], timed_pass: bool) -> None:
        construct = [0.0, 0]  # ms, py4j commands

        def query(name):
            def run():
                c0, t0 = self.tracer.py4j_count(), time.perf_counter_ns()
                with self.tracer.span("plans.construct"):
                    df = self.registry[name].fn(self.spark, self.sf_dir)
                construct[0] += (time.perf_counter_ns() - t0) / 1e6
                construct[1] += self.tracer.py4j_count() - c0
                bench.materialize(df)
            return run

        t0 = time.perf_counter()
        for name in order:
            if name == "b28_cosine_topk" and self.tracer.enabled and timed_pass:
                self.b28_ops.add(len(self.tracer.ops))
            _, ms, error = timed(self.tracer, name, "query", query(name))
            self.tally.record(error is None, lambda: f"{name}: {error!r}")
            if timed_pass:
                self.query_s[name].append(ms / 1000)
        if not timed_pass:
            return
        self.pass_s.append(time.perf_counter() - t0)
        self.construct_ms.append(construct[0])
        self.py4j.append(construct[1])


def dedup_pairs(spark) -> tuple[int, int]:
    """(candidate pairs, pairs kept by the estimate filter) of b27's
    MinHash-LSH over the registered documents, through
    ``operators.dedup``: a threshold of 0 keeps every candidate."""
    from hive_plan_service_spark.operators import dedup as dd

    docs = spark.table("documents")
    candidates = dd.minhash_lsh_pairs(docs, hash_fn="portable", est_threshold=0.0)
    kept = dd.minhash_lsh_pairs(docs, hash_fn="portable")
    return candidates.count(), kept.count()
