"""One run of one workload of the plan-service engine's benchmark.

    python3 perfbench/run.py --workload plan_service --seed 1 --seconds 20 --trace 0

Workloads (see README.md for why each exists):

* ``plan_service``: a seeded call mix against ``api.PlanService`` over
  the sf0.1 fixtures (``service.py``);
* ``headline_sf0.1``: the 13 ``bench.HEADLINE`` queries over the sf0.1
  fixtures (``headline.py``), then the same service call mix in the same
  process, as the reference's RPC server and refresh worker share one.

The run starts its own Spark (``local[4]``, a 4 GB JVM heap), makes its
inputs from ``--seed``, checks every answer and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics, end-to-end ones with ``--trace 0`` and per-layer ones with
``--trace 1``. ``--seconds`` sets the amount of work, in units of
nominal duration on a 4-core box, so that a faster engine does the same
work in less time. A record of the run (every metric, sample counts,
check time, box-noise witness, source identity) and, when traced, its
spans go to ``perfbench/.work/records``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
FIXTURES = os.path.join(BENCH, "fixtures")
# the checkout root, not this directory, leads the import path
sys.path[0] = ROOT

CPUS = min(4, os.cpu_count() or 4)
DRIVER_MEMORY = "4g"
WORKLOADS = ("plan_service", "headline_sf0.1")

#: End-to-end metrics: name → unit. Every workload reports each one.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "calls_per_s": "1/s",
    "entity_read_p50_ms": "ms",
    "count_read_p50_ms": "ms",
    "count_write_p50_ms": "ms",
    "refresh_p50_ms": "ms",
    "pass_s": "s",
}

#: Engine files the benchmark cannot run without.
_ENGINE = ("hive_plan_service_spark/api.py", "bench.py", "tests/parity.py")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", default=None,
        help="fixture scale for every phase (the self-test uses sf0.001)",
    )
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Wait for the JVM of an earlier run to exit, give this run an empty
    scratch root, and set the engine's knobs through its env vars."""
    from perfbench.box import wait_gone

    pidfile = os.path.join(WORK, "jvm.pid")
    try:
        with open(pidfile) as f:
            pid = int(f.read())
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            ours = WORK.encode() in f.read()
        if ours and not wait_gone(pid, 120):
            raise SystemExit(f"the JVM of an earlier run (pid {pid}) is still alive")
    except (FileNotFoundError, ValueError):
        pass
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keeps both JVMs (spark-submit's launcher and Spark's own) out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    for knob in ("SPARK_GRAFT_CONF_OVERRIDES", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(knob, None)


def start_spark():
    from hive_plan_service_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of the run back
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    with open(os.path.join(WORK, "jvm.pid"), "w") as f:
        f.write(str(spark.sparkContext._gateway.proc.pid))
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from perfbench.box import process_tree, wait_gone

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - escalate, then wait again
        proc.kill()
        proc.wait(timeout=30)
    for pid in process_tree(os.getpid())[1:]:
        wait_gone(pid, 30)


class Run:
    """The state of one run: phase times, timed regions and results."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.dir = run_dir
        self.timed_s = 0.0  # inside timed regions
        self.check_s = 0.0  # answer checks outside timed regions
        self.times: dict[str, float] = {}
        self.witness: list[dict] = []
        self.peak_rss_mb = 0.0
        self.last_timed_end = 0.0

    def region(self, tracer, name: str, body) -> None:
        """Run ``body()`` as a timed region."""
        from perfbench.box import Witness, peak_rss_mb

        w = Witness(os.getpid())
        with tracer.collecting(name):
            t0 = time.perf_counter()
            body()
            t1 = time.perf_counter()
        self.timed_s += t1 - t0
        self.last_timed_end = t1
        self.witness.append({"region": name, **w.stop()})
        self.peak_rss_mb = max(self.peak_rss_mb, peak_rss_mb(os.getpid()))

    def setup_s(self) -> float:
        """Untimed preparation up to the end of the last timed region:
        JVM, fixture registration, input generation, warm-up."""
        return self.last_timed_end - T_START - self.timed_s - self.check_s


def service_phase(spark, run: Run, tracer, tally, sf_dir: str, rng, warmup: int):
    """Warm up on a throwaway service, then time a fresh one."""
    from perfbench import service

    def fresh(name):
        """A new service, refreshed, whose counter log holds one write:
        a read of an empty log takes another path (missing key → 0)."""
        ep = service.Episode(spark, sf_dir, os.path.join(run.dir, name), tracer, tally)
        ep.run_block([("refresh", None), ("set_joined_count", rng.randrange(1000))],
                     timed_block=False)
        return ep

    if warmup:
        ep = fresh("warmup")
        for calls in service.episode(rng, warmup):
            ep.run_block(calls, timed_block=False)
    ep = fresh("warehouse")
    blocks = service.episode(rng, service.timed_blocks(run.args.seconds))
    ep.log_at_start = service.log_files(ep.log_dir)

    def body():
        for calls in blocks:
            ep.run_block(calls, timed_block=True)

    run.region(tracer, "service", body)
    ep.log_at_end = service.log_files(ep.log_dir)
    return ep


def end_to_end(run: Run, ep, passes) -> dict[str, float]:
    lat = ep.latency
    return {
        "setup_s": run.setup_s(),
        "calls_per_s": ep.calls / sum(ep.block_s),
        "entity_read_p50_ms": statistics.median(lat["entity_read"]),
        "count_read_p50_ms": statistics.median(lat["count_read"]),
        "count_write_p50_ms": statistics.median(lat["count_write"]),
        "refresh_p50_ms": statistics.median(lat["refresh"]),
        "pass_s": statistics.median(passes.pass_s if passes else ep.block_s),
    }


def per_layer(spark, run: Run, tracer, ep, passes) -> dict[str, float]:
    """The traced run's layer metrics, read after its timed regions."""
    from perfbench import headline, service
    from perfbench.tracing import PER_LAYER

    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.jvm_start_s"] = run.times["jvm_start_s"]
    out["session.register_tables_s"] = run.times["register_tables_s"]
    jobs = tracer.job_stats()

    def median(xs):
        return statistics.median(xs) if xs else 0.0

    svc_ops = [o for o in tracer.ops if o["region"] == "service"]
    for cls in service.LATENCY_CLASSES:
        ops = [o for o in svc_ops if o["cls"] == cls]
        stats = [jobs.get(o["op"], {"jobs": 0, "job_ms": 0.0}) for o in ops]
        out[f"api.{cls}.self_ms"] = median(
            [o["wall_ns"] / 1e6 - s["job_ms"] for o, s in zip(ops, stats)]
        )
        out[f"api.{cls}.spark_jobs"] = statistics.fmean(s["jobs"] for s in stats)
    out["api.refused.ms"] = median(ep.latency["refused"])

    writes = len(ep.latency["count_write"])
    (f0, b0), (f1, b1) = ep.log_at_start, ep.log_at_end
    out["sources.counter_log.files"] = f1
    out["sources.counter_log.files_per_write"] = (f1 - f0) / writes
    out["sources.counter_log.bytes_per_write"] = (b1 - b0) / writes
    out["sources.counter_log.files_read_per_count_read"] = statistics.fmean(
        ep.files_seen_by_reads
    )
    svc_op_ids = {o["op"] for o in svc_ops}
    for layer in ("operators.counter", "operators.bitmask"):
        out[f"{layer}.ms"] = median([
            (s["end"] - s["start"]) / 1e6 for s in tracer.spans
            if s["name"] == layer and s["op"] in svc_op_ids
        ])

    # Spark counters per pass: a headline pass, or a service block.
    region = "headline" if passes else "service"
    n = len(passes.pass_s) if passes else len(ep.block_s)
    region_ops = [o["op"] for o in tracer.ops if o["region"] == region]
    stage_ids = {s for i in region_ops for s in jobs.get(i, {"stages": []})["stages"]}
    totals = tracer.stage_totals(stage_ids)
    totals["jobs"] = sum(jobs.get(i, {"jobs": 0})["jobs"] for i in region_ops)
    for k, v in tracer.phases[region].items():
        totals[f"{k}_ms"] = v
    for k, v in totals.items():
        out[f"spark.{k}"] = v if k == "slowest_task_ms" else v / n

    if passes:
        out["plans.construct_ms"] = median(passes.construct_ms)
        out["plans.py4j_commands"] = median(passes.py4j)
        for q, xs in passes.query_s.items():
            out[f"plans.{q}_s"] = median(xs)
        st = tracer.stream["headline"]
        out["streaming.batches"] = st["batches"] / n
        out["streaming.trigger_ms"] = st["trigger_ms"] / n
        out["streaming.add_batch_ms"] = st["add_batch_ms"] / n
        scored = tracer.join_output_rows(passes.b28_ops) / n
        out["operators.vectors.pairs_scored"] = scored
        out["operators.vectors.pairs_per_result"] = scored / headline.B28_RESULTS
        candidates, kept = headline.dedup_pairs(spark)
        out["operators.dedup.candidate_pairs"] = candidates
        out["operators.dedup.kept_share"] = kept / candidates if candidates else 0.0
    return out


def main(argv=None) -> int:
    args = parse(argv)
    missing = [p for p in _ENGINE if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing: {missing}", file=sys.stderr)
        return 2
    from perfbench import box, headline, service
    from perfbench.ops import Tally, timed
    from perfbench.tracing import OFF, PER_LAYER, Tracer

    run_dir = os.path.join(WORK, "run")
    isolate(run_dir)
    run, tally, rng = Run(args, run_dir), Tally(), random.Random(args.seed)
    sf = os.path.join(FIXTURES, args.scale or "sf0.1")
    check_sf = os.path.join(FIXTURES, args.scale or "sf0.01")

    t0 = time.perf_counter()
    spark = start_spark()
    run.times["jvm_start_s"] = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else OFF
        if args.trace:
            service.install_layer_spans(tracer)
        passes = None
        if args.workload == "headline_sf0.1":
            run.check_s = headline.parity(spark, check_sf, tracer, tally)
        from hive_plan_service_spark.sources.catalog import register_tables

        _, ms, error = timed(tracer, "register_tables", "setup",
                             lambda: register_tables(spark, sf))
        if error is not None:
            raise error
        run.times["register_tables_s"] = ms / 1000
        if args.workload == "headline_sf0.1":
            passes = headline.Passes(spark, sf, tracer, tally)
            bench_queries = list(passes.query_s)
            orders = [rng.sample(bench_queries, len(bench_queries))
                      for _ in range(1 + headline.timed_passes(args.seconds))]
            passes.run_pass(orders.pop(0), timed_pass=False)

            def batch():
                for order in orders:
                    passes.run_pass(order, timed_pass=True)

            run.region(tracer, "headline", batch)
        # in headline_sf0.1 the batch has already warmed most of the JVM
        warmup = 1 if passes else 2
        ep = service_phase(spark, run, tracer, tally, sf, rng, warmup)
        e2e = end_to_end(run, ep, passes)
        layers = per_layer(spark, run, tracer, ep, passes) if args.trace else None
    finally:
        stop_spark(spark)

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "cpus": CPUS, "driver_memory": DRIVER_MEMORY,
        "end_to_end": e2e, "per_layer": layers,
        "samples": {c: len(v) for c, v in ep.latency.items()}
        | {"blocks": len(ep.block_s), "passes": len(passes.pass_s) if passes else 0},
        "check_s": run.check_s, "times": run.times, "peak_rss_mb": run.peak_rss_mb,
        "block_s": ep.block_s, "pass_s": passes.pass_s if passes else None,
        "calls": ep.trail,
        "witness": run.witness, "source": box.source_identity(ROOT),
        "attempted": tally.attempted, "failed": tally.failed,
        "failures": tally.failures,
    }
    path = os.path.join(WORK, "records", stem + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write_spans(os.path.join(WORK, "records", stem + ".spans.jsonl"))
    print(f"record: {os.path.relpath(path, ROOT)}")
    for line in tally.failures:
        print(f"failed: {line}")
    names = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m: {"value": values[m], "unit": u} for m, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
