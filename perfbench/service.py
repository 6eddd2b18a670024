"""An assumed call mix against ``api.PlanService``.

The reference records nothing about its traffic (it has no tests or
benchmarks), so the shares in ``BLOCK`` are assumed, not measured;
README.md gives the reasons for them. One closed-loop client: each call
waits for the previous one to return, as the reference's RPC callers do.
A throwaway service takes the warm-up blocks (JIT, generated code,
Python workers); then a fresh service over its own warehouse is
refreshed once, written once and takes the timed blocks, so its counter
log starts the same whatever the warm-up did. Every block holds the same
calls (``BLOCK``) in a seeded order, so a run does the same work
whatever the seed: the same reads, the same writes (their kinds and set
values are seeded), the same refreshes. The counter log grows with every
write for the whole episode, as in a live service.

Every response is checked against a client-side model: counts against
the replayed incr/decr/set sequence, plans and groups against the
fixture's nation and region tables, refused calls against their code.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

from perfbench.ops import timed

#: One block of the call mix: (kind, how many). ``denied`` is an admin
#: endpoint called with a reader's role (403), ``invalid`` a non-numeric
#: ``set_joined_count`` (400). The shares are assumed (see README.md):
#: reads outnumber admin mutations, the three read endpoints are called
#: alike, and every latency class gets enough samples in a run for a
#: steady median.
BLOCK: tuple[tuple[str, int], ...] = (
    ("get_plans", 3),
    ("get_plan_groups", 3),
    ("get_joined_count", 3),
    ("count_write", 2),
    ("refresh", 1),
    ("denied", 1),
    ("invalid", 1),
)
#: ``--seconds`` sets the timed blocks at ``NOMINAL_BLOCK_S`` each.
NOMINAL_BLOCK_S = 3.0

CLASS = {
    "get_plans": "entity_read",
    "get_plan_groups": "entity_read",
    "get_joined_count": "count_read",
    "increase_joined_count": "count_write",
    "decrease_joined_count": "count_write",
    "set_joined_count": "count_write",
    "refresh": "refresh",
    "denied": "refused",
    "invalid": "refused",
}
LATENCY_CLASSES = ("entity_read", "count_read", "count_write", "refresh")
_WRITES = ("increase_joined_count", "decrease_joined_count", "set_joined_count")
_ADMIN = ("refresh", *_WRITES)
_NOT_NUMBERS = ("12", None, "n/a", [3], True)


def timed_blocks(seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_BLOCK_S))


def episode(rng: random.Random, blocks: int) -> list[list[tuple[str, object]]]:
    """``blocks`` blocks of (endpoint, argument) calls in seeded order.

    Writes cycle through incr, decr and set so that every run has the
    same number of each; their order and the set values are seeded.
    """
    n_writes = blocks * dict(BLOCK)["count_write"]
    writes = [_WRITES[i % 3] for i in range(n_writes)]
    rng.shuffle(writes)
    out = []
    for _ in range(blocks):
        calls: list[tuple[str, object]] = []
        for kind, n in BLOCK:
            for _ in range(n):
                if kind == "count_write":
                    w = writes.pop()
                    arg = rng.randrange(1_000_000) if w == "set_joined_count" else None
                    calls.append((w, arg))
                elif kind == "denied":
                    calls.append(("denied", rng.choice(_ADMIN)))
                elif kind == "invalid":
                    calls.append(("invalid", rng.choice(_NOT_NUMBERS)))
                else:
                    calls.append((kind, None))
        rng.shuffle(calls)
        out.append(calls)
    return out


def expected_entities(sf_dir: str) -> tuple[list[dict], list[dict]]:
    """What ``get_plans`` and ``get_plan_groups`` must return, from the
    fixture's nation and region tables: plan id = ``1 << nation key``,
    a region's group mask = the OR of its nations' plan ids."""
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pylist()
    region = pq.read_table(os.path.join(sf_dir, "region.parquet")).to_pylist()
    nation.sort(key=lambda n: n["n_nationkey"])
    plan = {
        n["n_nationkey"]: {"id": 1 << n["n_nationkey"], "title": n["n_name"],
                           "optional": n["n_nationkey"] % 2 == 0}
        for n in nation
    }
    groups = []
    for r in sorted(region, key=lambda r: r["r_regionkey"]):
        members = [plan[n["n_nationkey"]] for n in nation
                   if n["n_regionkey"] == r["r_regionkey"]]
        mask = 0
        for p in members:
            mask |= p["id"]
        if members:  # plan_groups inner-joins regions with their nations
            groups.append({"id": r["r_regionkey"], "title": r["r_name"],
                           "mask": mask, "plans": members})
    return list(plan.values()), groups


class Model:
    """What a correct service answers, replayed client-side."""

    def __init__(self, sf_dir: str) -> None:
        self.plans, self.groups = expected_entities(sf_dir)
        self.count = 0

    def apply(self, kind: str, arg) -> None:
        """Advance the counter as a successful write does."""
        if kind == "increase_joined_count":
            self.count += 1
        elif kind == "decrease_joined_count":
            self.count -= 1
        elif kind == "set_joined_count":
            self.count = arg

    def expected_count(self) -> int:
        return self.count

    def check(self, kind: str, arg, resp) -> bool:
        """Apply a write to the model, then test the response."""
        if not isinstance(resp, dict):
            return False
        if kind == "denied":
            return resp.get("code") == 403
        if kind == "invalid":
            return resp.get("code") == 400
        if resp.get("code") != 200:
            return False
        data = resp.get("data")
        if kind == "get_plans":
            return sorted(data, key=lambda p: p["id"]) == self.plans
        if kind == "get_plan_groups":
            return sorted(data, key=lambda g: g["id"]) == self.groups
        if kind == "refresh":
            return data == "okay"
        self.apply(kind, arg)
        return data == self.expected_count()


def _call(svc, kind: str, arg):
    if kind == "denied":
        if arg == "set_joined_count":
            return lambda: svc.set_joined_count(1, role="mobile")
        return lambda: getattr(svc, arg)(role="mobile")
    if kind in ("invalid", "set_joined_count"):
        return lambda: svc.set_joined_count(arg)
    return getattr(svc, kind)


def log_files(path: str) -> tuple[int, int]:
    """(parquet part files, their bytes) in the counter log directory."""
    try:
        names = [n for n in os.listdir(path) if n.endswith(".parquet")]
    except FileNotFoundError:
        return 0, 0
    return len(names), sum(os.path.getsize(os.path.join(path, n)) for n in names)


class Episode:
    """One service over its own warehouse, driven block by block."""

    def __init__(self, spark, sf_dir: str, warehouse: str, tracer, tally) -> None:
        from hive_plan_service_spark.api import PlanService

        self.tracer = tracer
        self.tally = tally
        self.model = Model(sf_dir)
        self.svc = PlanService(spark, sf_dir, warehouse=warehouse)
        self.log_dir = os.path.join(warehouse, "counter_log")
        self.latency: dict[str, list[float]] = {c: [] for c in (*LATENCY_CLASSES, "refused")}
        self.block_s: list[float] = []
        self.calls = 0
        self.files_seen_by_reads: list[int] = []
        self.trail: list[tuple[str, float]] = []  # (class, ms) of timed calls
        self.log_at_start = self.log_at_end = (0, 0)  # (files, bytes)

    def run_block(self, calls, timed_block: bool) -> None:
        t0 = time.perf_counter()
        for kind, arg in calls:
            cls = CLASS[kind]
            if timed_block and self.tracer.enabled and cls == "count_read":
                self.files_seen_by_reads.append(log_files(self.log_dir)[0])
            resp, ms, error = timed(self.tracer, kind, cls, _call(self.svc, kind, arg))
            ok = error is None and self.model.check(kind, arg, resp)
            self.tally.record(ok, lambda: f"{kind}({arg!r}) -> {error or resp}")
            if timed_block:
                self.latency[cls].append(ms)
                self.trail.append((cls, round(ms, 3)))
                self.calls += 1
        if timed_block:
            self.block_s.append(time.perf_counter() - t0)


def install_layer_spans(tracer) -> None:
    """Open spans around the operators ``api`` calls. Both build lazy
    plans, so each span lasts to the end of its operation: the counter
    fold up to the end of its collect (the rest of the counter call),
    the bitmask expansion up to the end of its write (the rest of
    ``refresh``)."""
    from hive_plan_service_spark import api

    fold, expand = api.current_counter_value, api.expand_groups_nested

    def counter_value(log):
        tracer.open_child("operators.counter")
        return fold(log)

    def expand_groups(groups, plans):
        tracer.open_child("operators.bitmask")
        return expand(groups, plans)

    api.current_counter_value = counter_value
    api.expand_groups_nested = expand_groups
