"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_dag --seed 1 --seconds 10 --trace 0

Workloads: etl_dag, corpus_crawl (see perfbench/README.md).
It builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), starts a fresh JVM at
local[<cores>], checks every output and prints one JSON object as the last
line of standard output. `--trace 1` prints the per-layer metrics instead
of the end-to-end ones and writes the span record to
`.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def heap_gb():
    """A quarter of physical memory, between 2 and 8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def cpu_times():
    """The host's aggregate CPU counters (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run_jvm(classes, args, work, input_dir, cores):
    """One fresh JVM in its own temp dir (cwd, warehouse, spark.local.dir,
    java.io.tmpdir), removed afterwards. Returns (launch time, result)."""
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(ROOT, ".bench_build", "traces",
                             f"{args.workload}-seed{args.seed}.json")
    cmd = (["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-Xss4m",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", build.classpath(classes), "graftbench.BenchMain",
                          "--workload", args.workload, "--input", input_dir,
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--out", out, "--trace-out", trace_out,
                          "--cores", str(cores), "--run-dir", run_dir])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=logf)
        try:
            p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("JVM timed out")
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-3000:])
        raise RuntimeError(f"JVM exited with {p.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["_run_dir"] = run_dir
    return t0, res


# ── output checks ────────────────────────────────────────────────────────

def check_etl(truth, out):
    got = {(c["check"], c["table"]): c for c in out.get("checks", [])}
    want = {(c["check"], c["table"]): c for c in truth["checks"]}
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if g["passed"] != w["passed"] or (w["detail"] is not None and g["detail"] != w["detail"]):
            return False
    return True


def check_corpus(truth, out):
    if out.get("kept") != truth["kept"]:
        return False
    ids = set(int(i) for i in out["ids"])
    if len(ids) != truth["kept"]["decontaminated"]:
        return False
    for g in truth["exact_groups"] + truth["near_groups"]:
        if sum(1 for i in g if i in ids) > 1:
            return False
    if any(i in ids for i in truth["benchmark_ids"] + truth["short_ids"]):
        return False
    return set(int(i) for i in out["chunk_ids"]) <= ids


CHECKS = {"etl_dag": check_etl, "corpus_crawl": check_corpus}


# ── metrics ──────────────────────────────────────────────────────────────

def end_to_end(truth, setup, res):
    wall = statistics.median(res["ops"]["secs"])
    return {
        "setup_s": setup,
        "wall_s": wall,
        "records_per_s": truth["input_records"] / wall,
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
    }


def per_layer(workload, truth, res, spec):
    lay = dict(res["layers"])
    lay["trace.overhead_s"] = (statistics.median(res["traced_ops"]["secs"])
                               - statistics.median(res["ops"]["secs"]))
    if workload == "etl_dag":
        # kept rows as the not_empty checks report them
        kept = sum(int(c["detail"].split("=")[1]) for c in res["traced_ops"]["outputs"][-1]["checks"]
                   if c["check"] == "not_empty")
        lay["etl.kept_frac"] = kept / (truth["sales_rows_read"] + truth["product_records_read"])
    names = {m["name"] for m in spec["per_layer"]}
    for k in sorted(set(lay) - names):
        log(f"{k} = {lay[k]:.6g}")
    # a layer the workload does not exercise reads 0
    return {m["name"]: lay.get(m["name"], 0.0) for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        t_build = time.time()
        classes = build.build()
        log(f"build ready in {time.time() - t_build:.1f} s")
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        sys.exit(2)

    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".bench_build", "work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        input_dir = os.path.join(work, "input")
        t_gen = time.time()
        truth = gen.generate(args.workload, args.seed, input_dir)
        log(f"inputs generated in {time.time() - t_gen:.1f} s")
        c0 = cpu_times()
        t0, res = run_jvm(classes, args, work, input_dir, cores)
        c1 = cpu_times()
        if c0 and c1 and sum(c1) > sum(c0):
            # time the hypervisor gave this machine's CPUs to others: a run
            # with much of it is slower for reasons outside the program
            log(f"host CPU steal {(c1[7] - c0[7]) / (sum(c1) - sum(c0)):.3f} during the JVM")
        setup = res["warmup_done_ms"] / 1000 - t0
        log(f"JVM: session ready after {res['session_ready_ms'] / 1000 - t0:.2f} s, "
            f"warm-up done after {setup:.2f} s")
        log(f"JVM done after {time.time() - t0:.1f} s "
            f"(hygiene {res['ops']['hygiene_secs']:.1f} s)")
        t_check = time.time()
        warm = res["warmup"]
        ok = list(res["ops"]["ok"]) + list(res.get("traced_ops", {}).get("ok", []))
        outputs = res["ops"]["outputs"] + res.get("traced_ops", {}).get("outputs", [])
        check = CHECKS[args.workload]
        ok = [k and check(truth, o) for k, o in zip(ok, outputs)]
        log(f"warm-up seconds {[round(x, 3) for x in warm['secs']]}")
        warm_ok = all(k and check(truth, o) for k, o in zip(warm["ok"], warm["outputs"]))
        for e in warm["errors"] + res["ops"]["errors"] + res.get("traced_ops", {}).get("errors", []):
            log(f"error: {e}")
        log(f"outputs checked in {time.time() - t_check:.1f} s")
        attempted, failed = len(ok), sum(1 for k in ok if not k)
        log(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} operations)")

        if args.trace:
            values = per_layer(args.workload, truth, res, spec)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = end_to_end(truth, setup, res)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            log(f"{len(res['ops']['secs'])} operations, seconds "
                f"{[round(x, 3) for x in res['ops']['secs']]}")
        for k in units:
            log(f"{k} = {values[k]:.6g} {units[k]}")
        print(json.dumps({
            "correct": bool(warm_ok and failed == 0),
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
