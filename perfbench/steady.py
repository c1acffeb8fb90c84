"""Steadiness report: runs the benchmark several times per workload, each
time with another seed, and prints each metric's median, quartiles and
spread (interquartile distance as a share of the median) next to its bound.

    python3 perfbench/steady.py                       # 10 runs x every workload
    python3 perfbench/steady.py --runs 5 --workloads corpus_crawl --trace 1

Quartiles are `statistics.quantiles(values, n=4)`. Raw results, with each
run's stderr, are kept in `.bench_build/steady/`.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.abspath(os.path.join(HERE, ".."))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    record = {}
    for w in a.workloads:
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)], cwd=ROOT, stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, timeout=900)
            lines = p.stdout.decode().strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"seed": seed, "secs": time.time() - t0, "code": p.returncode,
                         "result": res, "log": p.stderr.decode(errors="replace")})
            status = "ok" if res and res["correct"] and res["failed"] == 0 else "FAILED"
            steal = re.search(r"host CPU steal (\S+)", runs[-1]["log"])
            print(f"{w} seed {seed}: {status} in {time.time() - t0:.1f} s"
                  + (f", host steal {steal.group(1)}" if steal else ""), flush=True)
        record[w] = runs
        good = [r["result"] for r in runs if r["result"]]
        if not good:
            continue
        print(f"\n{w}: {len(good)} of {len(runs)} runs, "
              f"{sum(r['secs'] for r in runs) / len(runs):.1f} s per run")
        print(f"  {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}")
        for name in good[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in good]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / abs(med) if med else float("nan")
            b = bounds.get(name)
            flag = ""
            if b is not None:
                flag = "ok" if spread <= b / 3 else ("within bound" if spread <= b else "TOO WIDE")
            print(f"  {name:34s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
                  f"{'' if b is None else b:>6} {flag}")
        print(flush=True)
    path = os.path.join(out_dir, f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"raw results: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
