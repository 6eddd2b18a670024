"""Run-to-run spread of the benchmark, and a comparison of two run sets.

    python3 perfbench/spread.py run --workload plan_service --seeds 1-10 --out a.jsonl
    python3 perfbench/spread.py show a.jsonl
    python3 perfbench/spread.py compare a.jsonl b.jsonl

``run`` runs ``run.py`` once per seed, one run at a time, for
BENCHMARK.json's ``run_seconds``, and appends each run's final line and
record to ``--out``. ``show`` prints, for every end-to-end metric, the
median, the quartiles (``statistics.quantiles``, n=4) and the spread:
IQR ÷ median, and for each latency the spread net of the box's speed.
``compare`` reads two such files whose runs pair up in
order (same seeds, alternate the order in which the two sides ran) and
applies the pair rule: B gains on a metric only if it wins at least nine
tenths of the pairs and the medians differ by more than A's own IQR; B
regresses if its median is worse than A's by more than the metric's
bound in BENCHMARK.json; where A's spread is wider than the bound, the
result is unresolved unless every B run beats every A run. Comparing
untraced runs (A) with traced runs (B) of the same seeds gives the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(args) -> None:
    bench = spec()
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
        record_line = next(x for x in lines if x.startswith("record: "))
        with open(os.path.join(ROOT, record_line.split(": ", 1)[1])) as f:
            record = json.load(f)
        result = json.loads(lines[-1])
        with open(args.out, "a") as f:
            f.write(json.dumps({"seed": seed, "result": result, "record": record}) + "\n")
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)
    show(argparse.Namespace(files=[args.out]))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs: list[float]) -> list[float]:
    """q1, median, q3 as ``statistics.quantiles(xs, n=4)`` gives them."""
    return statistics.quantiles(xs, n=4)


def show(args) -> None:
    for path in args.files:
        runs = load(path)
        print(f"{path}: {len(runs)} runs, workload {runs[0]['record']['workload']}")
        if len(runs) < 2:
            print("quartiles need at least two runs")
            continue
        print(f"{'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'IQR/median':>11}")
        for m in spec()["end_to_end"]:
            xs = [r["record"]["end_to_end"][m["name"]] for r in runs]
            q1, med, q3 = quartiles(xs)
            print(f"{m['name']:24} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{(q3 - q1) / med:11.4f}")
        rss = [r["record"]["peak_rss_mb"] for r in runs]
        q1, med, q3 = quartiles(rss)
        print(f"{'(peak_rss_mb)':24} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{(q3 - q1) / med:11.4f}")
        noise = [w for r in runs for w in r["record"]["witness"]]
        print("witness: max steal share %.4f, max others' CPU share %.4f" % (
            max(w["steal_share"] for w in noise),
            max(w["others_cpu_share"] for w in noise)))
        # A slower or faster box moves every call of a run alike; each
        # latency over its run's median block time keeps the rest: the
        # spread that comes from the benchmark itself.
        print("spread net of the box's speed (latency / median block time):")
        for m in spec()["end_to_end"]:
            if m["name"].endswith("_p50_ms"):
                xs = [r["record"]["end_to_end"][m["name"]]
                      / statistics.median(r["record"]["block_s"]) for r in runs]
                q1, med, q3 = quartiles(xs)
                print(f"  {m['name']:22} {(q3 - q1) / med:11.4f}")


def compare(args) -> None:
    a, b = load(args.a), load(args.b)
    n = min(len(a), len(b))
    print(f"A {args.a} ({len(a)} runs) vs B {args.b} ({len(b)} runs), {n} pairs")
    print(f"{'metric':24} {'median A':>12} {'median B':>12} {'B/A-1':>8} "
          f"{'B wins':>7} {'A IQR/med':>9}  verdict")
    for m in spec()["end_to_end"]:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        xa = [r["record"]["end_to_end"][name] for r in a]
        xb = [r["record"]["end_to_end"][name] for r in b]
        q1, ma, q3 = quartiles(xa)
        mb = statistics.median(xb)
        sign = 1 if lower else -1  # > 0: B better
        wins = sum(1 for x, y in zip(xa[:n], xb[:n]) if sign * (x - y) > 0)
        worse = sign * (mb - ma) / ma  # > 0: B worse
        if wins >= 0.9 * n and sign * (ma - mb) > q3 - q1:
            verdict = "gain"
        elif worse > bound:
            verdict = "regression"
        elif (q3 - q1) / ma > bound and not (
            max(sign * x for x in xb) < min(sign * x for x in xa)
        ):
            verdict = "unresolved"
        else:
            verdict = "no regression"
        print(f"{name:24} {ma:12.4f} {mb:12.4f} {mb / ma - 1:8.4f} "
              f"{wins:>3}/{n:<3} {(q3 - q1) / ma:9.4f}  {verdict}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("show")
    s.add_argument("files", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    {"run": run, "show": show, "compare": compare}[args.cmd](args)


if __name__ == "__main__":
    main()
