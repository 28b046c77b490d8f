#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and compare the
spread of every end-to-end metric with its bound in BENCHMARK.json.

    python3 perfbench/prove.py [--runs 10] [--sets 1] [--trace] [workload ...]

For each workload and set, runs `run.py` once per seed (seeds 1..runs, then
runs+1.. for the next set) and prints each metric's median and spread (the
interquartile distance as a share of the median). With --sets 2 it also
applies the acceptance check of stats.steady between the two sets. Beside
the metrics it prints the host's CPU steal and iowait over each run's timed
phase (median / max per set), so a spread can be told from host load. The
raw results are appended to .bench_build/perfbench/prove.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

import run
import stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", action="store_true", help="also make one traced run per workload")
    args = ap.parse_args()
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    log = run.BUILD / "prove.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    ok = True

    def one(w, seed, trace):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", w,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", str(int(trace))],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.monotonic() - t0
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode in (0, 1) else None
        context = [json.loads(x.split(" ", 2)[2]) for x in p.stderr.splitlines()
                   if x.startswith("perfbench: context ")]
        context = context[-1] if context else None
        with open(log, "a") as f:
            f.write(json.dumps({"workload": w, "seed": seed, "trace": trace, "code": p.returncode,
                                "wall_s": wall, "result": res, "context": context}) + "\n")
        if res is None or p.returncode != 0:
            print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return None, wall, context
        return {k: v["value"] for k, v in res["metrics"].items()}, wall, context

    def host_line(contexts, key):
        xs = [c[key] for c in contexts if c]
        return f"{100 * statistics.median(xs):.1f}% / {100 * max(xs):.1f}%" if xs else "n/a"

    for w in workloads:
        sets = []
        for s in range(args.sets):
            vals, walls, contexts = {}, [], []
            for seed in range(1 + s * args.runs, 1 + (s + 1) * args.runs):
                m, wall, context = one(w, seed, False)
                walls.append(wall)
                contexts.append(context)
                if m is None:
                    ok = False
                    continue
                for k, v in m.items():
                    vals.setdefault(k, []).append(v)
            sets.append(vals)
            print(f"== {w} set {s + 1}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s,"
                  f" max {max(walls):.1f} s; steal {host_line(contexts, 'steal_frac')},"
                  f" iowait {host_line(contexts, 'iowait_frac')} (median / max)")
            for m in bench["end_to_end"]:
                xs = vals.get(m["name"], [])
                if len(xs) < 4:
                    continue
                sp = stats.spread(xs)
                flag = "" if sp <= m["bound"] / 3 else \
                    ("  > bound/3" if sp <= m["bound"] else "  > BOUND")
                print(f"  {m['name']:<18} median {statistics.median(xs):<12.5g} spread {sp:.3f}"
                      f" (bound {m['bound']}){flag}")
        if len(sets) == 2:
            problems = stats.steady(sets[0], sets[1], bench["end_to_end"])
            print(f"  steady: {'yes' if not problems else problems}")
            ok = ok and not problems
        if args.trace:
            m, wall, _ = one(w, 1000, True)
            print(f"== {w} traced ({wall:.1f} s): {json.dumps(m)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
