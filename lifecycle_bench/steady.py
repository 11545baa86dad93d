#!/usr/bin/env python3
"""Steadiness of the lifecycle benchmark.

Run each workload over a range of seeds and keep every result:

    python3 lifecycle_bench/steady.py run --seeds 1-10 --out runs-a.jsonl
    python3 lifecycle_bench/steady.py run --seeds 1-10 --out runs-b.jsonl
    python3 lifecycle_bench/steady.py run --seeds 1-2 --trace 1 --out traced.jsonl

Report, per workload and end-to-end metric, the median, the quartile
spread as a share of the median, and that spread against the metric's
bound from BENCHMARK.json; given a second file, also how far its medians
moved against the first in the metric's worse direction. Traced results in
any file give the tracing overhead (traced ingest time and query median
minus the untraced medians):

    python3 lifecycle_bench/steady.py report runs-a.jsonl runs-b.jsonl traced.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args) -> int:
    bench = load_benchmark()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    with open(args.out, "a") as out:
        for seed in seed_range(args.seeds):
            for workload in workloads:
                cmd = bench["command"] + [
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
                t0 = time.perf_counter()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                      timeout=600)
                wall_s = time.perf_counter() - t0
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or len(lines) < 2:
                    print(f"{workload} seed {seed}: exit {proc.returncode}\n"
                          f"{proc.stderr[-2000:]}", file=sys.stderr)
                    return 1
                record = {"workload": workload, "seed": seed, "trace": args.trace,
                          "wall_s": wall_s,
                          "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}
                out.write(json.dumps(record) + "\n")
                out.flush()
                res = record["result"]
                print(f"{workload} seed {seed}: correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      f"wall {wall_s:.1f} s")
    return 0


def spread(values: list[float]) -> tuple[float, float]:
    """(median, quartile distance as a share of the median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def _load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def report(args) -> int:
    bench = load_benchmark()
    sets = [(p, _load(p)) for p in args.files]
    untraced = [(p, [r for r in rs if not r["trace"]]) for p, rs in sets]
    untraced = [(p, rs) for p, rs in untraced if rs]
    traced = [r for _, rs in sets for r in rs if r["trace"]]
    ok = True
    for w in bench["workloads"]:
        name = w["name"]
        print(f"== {name}")
        medians = []
        for path, records in untraced:
            rs = [r for r in records if r["workload"] == name]
            if not rs:
                medians.append({})
                continue
            wrong = [r["seed"] for r in rs if not r["result"]["correct"] or r["result"]["failed"]]
            walls = [r["wall_s"] for r in rs]
            print(f"  {path}: {len(rs)} runs, incorrect or failing seeds {wrong}, "
                  f"wall median {statistics.median(walls):.0f} s max {max(walls):.0f} s")
            ok &= not wrong
            med = {}
            for m in bench["end_to_end"]:
                values = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
                if len(values) < 2:
                    continue
                med[m["name"]], rel = spread(values)
                flag = "ok" if rel <= m["bound"] / 3 else ("WIDE" if rel <= m["bound"] else "OVER")
                # set-up time holds one session start a run, whose spread
                # is shown but not gated; its move between sets is gated
                if m["name"] == "setup_s":
                    flag += " (spread not gated)"
                elif rel > m["bound"]:
                    ok = False
                print(f"    {m['name']:26s} median {med[m['name']]:12.4f} {m['unit']:9s} "
                      f"spread {rel:7.2%} bound {m['bound']:.0%} {flag}")
            medians.append(med)
        for (pa, _), (pb, _), a, b in zip(untraced, untraced[1:], medians, medians[1:]):
            print(f"  {pb} against {pa}:")
            for m in bench["end_to_end"]:
                if m["name"] not in a or m["name"] not in b:
                    continue
                change = (b[m["name"]] - a[m["name"]]) / a[m["name"]]
                worse = change if m["better"] == "lower" else -change
                ok &= worse <= m["bound"]
                print(f"    {m['name']:26s} {change:+8.2%} "
                      f"{'ok' if worse <= m['bound'] else 'WORSE THAN BOUND'}")
        base = [r["detail"] for _, rs in untraced for r in rs if r["workload"] == name]
        for r in traced:
            if r["workload"] != name or not base:
                continue
            d = r["detail"]
            ingest = d["ingest_s"] - statistics.median(b["ingest_s"] for b in base)
            query = d["query_p50_ms"] - statistics.median(b["query_p50_ms"] for b in base)
            print(f"  traced seed {r['seed']}: tracing overhead ingest {ingest:+.2f} s, "
                  f"query p50 {query:+.1f} ms, wall {r['wall_s']:.0f} s")
    print("steady" if ok else "NOT STEADY")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="e.g. 1-10")
    r.add_argument("--workload", action="append", help="default: every workload")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    r.set_defaults(fn=run)
    s = sub.add_parser("report")
    s.add_argument("files", nargs="+")
    s.set_defaults(fn=report)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
