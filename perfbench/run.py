#!/usr/bin/env python3
"""graft benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload catalog_sf0.01 --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds graft and the harness
(perfbench/Makefile). Each run then generates its inputs from --seed,
starts one benchmark JVM (local[nproc], one client, one step at a time),
compares every step's output with its DuckDB oracle, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the run's spans go to perfbench/out/traces/.

--smoke runs every workload once untraced and once traced on a tiny input,
checks outputs and prints every metric name with its unit; it exits
non-zero if anything is missing or wrong.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

# name -> (harness workload, scale factor of the generated tables)
WORKLOADS = {
    "catalog_sf0.01": ("catalog", 0.01),
    "delta_sf0.01": ("delta", 0.01),
}
SMOKE_SF = 0.001

END_TO_END = {
    "wall_s": "s",
    "slowest_query_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
}

OPERATORS = [
    "dedup.with_keys", "dedup.matched_edges", "dedup.assign_clusters",
    "dedup.incremental", "dedup.retract", "dedup.bucketed_write",
]
PER_LAYER = {
    "graft.build_s": "s",
    "graft.action_s": "s",
    "graft.checkpoint_jobs": "count",
    "graft.checkpoint_held_mb": "MiB",
    "graft.checkpoint_leaked_mb": "MiB",
    "plans.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.peak_exec_mem_mb": "MiB",
    "spark.input_mb": "MiB",
    "spark.failed_tasks": "count",
    **{f"operators.{op}{suffix}": unit for op in OPERATORS
       for suffix, unit in (("_s", "s"), (".jobs", "count"), (".stages", "count"))},
    **{f"{k}.rows_per_s": "rows/s" for k in (
        "plans.kernel.minhash_sig", "plans.kernel.winnow_anchors",
        "functions.normalize_text", "plans.kernel.normalize_key",
        "plans.kernel.title_key")},
    **{f"sources.{c}.{d}_per_s": "records/s"
       for c in ("iso2709", "marcinjson", "marcxml") for d in ("parse", "build")},
    "failed_ratio": "ratio",
    "trace.overhead_s": "s",
}

HEAP = "3g"
YOUNG = "512m"
# Set-up plus passes normally take about a minute; the limit is generous
# so that a much slower program still reports its metrics.
JVM_TIMEOUT_BASE_S = 600
# Settings that change the program under test; the run pins them unset
# (their defaults) and records them.
PINNED_ENV = ("SPARK_GRAFT_FANOUT", "SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_CPUS")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def build():
    """Build graft and the harness into one jar (perfbench/Makefile)."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: src/main/scala not found; run from a repository checkout")
    t0 = time.time()
    proc = subprocess.run(["make", "-s", "-C", str(HERE), f"SPARK_JARS={spark_jars()}"],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed ({proc.returncode})")
    log(f"build checked in {time.time() - t0:.1f} s")


def source_id():
    """The git commit when run inside a git checkout, else None."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, data, work, seconds, trace):
    """Start the harness JVM; returns (result dict, launch epoch seconds)."""
    result = work / "result.json"
    timeout = JVM_TIMEOUT_BASE_S + 20 * seconds
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{OUT / 'perfbench.jar'}:{spark_jars()}/*", "perfbench.Harness",
           "--workload", workload, "--data", str(data), "--work", str(work),
           "--result", str(result), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--cores", str(nproc())]
    env = {k: v for k, v in os.environ.items() if k not in PINNED_ENV}
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    launched = time.time()
    with open(work / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness JVM exceeded {timeout:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not result.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: harness JVM exited with {code}")
    return json.loads(result.read_text()), launched


def self_times(spans):
    """Total self time per span name: duration minus the part covered by children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    totals = {}
    for s in spans:
        covered, reach = 0, s["start_us"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], reach), min(c["end_us"], s["end_us"])
            if b > a:
                covered += b - a
                reach = b
        name = s["name"] if s["kind"] not in ("spark.job", "spark.stage") else s["kind"]
        totals[name] = totals.get(name, 0) + (s["end_us"] - s["start_us"] - covered)
    return totals


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def charge_failures(passes, failed_checks, seconds):
    """Per-pass step times with every failed step charged, so a failure
    never makes a pass read faster.

    A step failed in a pass if it threw there or its output failed the
    check (then it failed in every pass). It is charged the longest pass
    of the run, which covers any good time of any step, or --seconds if
    that is longer.
    """
    charge = max([seconds] + [sum(p["steps"].values()) for p in passes])
    return [{k: charge if k in p["failed"] or k in failed_checks else t
             for k, t in p["steps"].items()} for p in passes]


def step_medians(step_times):
    """(wall, slowest step) of a pass made of each step's median over the
    given passes, so a stall in one pass moves neither figure."""
    per_step = {k: median([s[k] for s in step_times]) for k in step_times[0]}
    return sum(per_step.values()), max(per_step.values())


def run(name, seed, seconds, trace, sf=None):
    """One benchmark run; returns the final result object."""
    workload, default_sf = WORKLOADS[name]
    work = OUT / f"run-{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t_setup = time.time()
        data = work / "data"
        gen.generate(data, seed, sf if sf is not None else default_sf)
        gen_s = time.time() - t_setup
        res, launched = run_jvm(workload, data, work, seconds, trace)
        checks = check.check_outputs(res, data, work / "outputs", nproc())
        spans_file = work / "spans.jsonl"
        if spans_file.exists():
            (OUT / "traces").mkdir(parents=True, exist_ok=True)
            kept = OUT / "traces" / f"{name}-seed{seed}.spans.jsonl"
            shutil.copyfile(spans_file, kept)
            spans = [json.loads(line) for line in spans_file.read_text().splitlines()]
            top = sorted(self_times(spans).items(), key=lambda kv: -kv[1])[:12]
            log(f"spans: {kept}")
            log("self time by span: " + ", ".join(f"{k}={v / 1e6:.3f}s" for k, v in top))
    finally:
        if (work / "jvm.log").exists():
            shutil.copyfile(work / "jvm.log", OUT / f"{name}-seed{seed}.jvm.log")
        shutil.rmtree(work, ignore_errors=True)

    bad_checks = {c for c, ok in checks.items() if not ok}
    attempted = sum(s["attempts"] for s in res["steps"])
    failed = sum(s["attempts"] if s["check"] in bad_checks else s["failures"] for s in res["steps"])
    failed += res["probe_failures"]
    attempted += 1 if trace else 0
    failed_steps = {s["name"] for s in res["steps"] if s["check"] in bad_checks}
    charged = charge_failures(res["passes"], failed_steps, seconds)
    for p, steps in zip(res["passes"], charged):
        p["steps"] = steps
        log(f"{p['pass']} traced={p['traced']} wall={sum(steps.values()):.2f}s cpu={p['cpu_s']:.2f}s: "
            + " ".join(f"{k}={v:.2f}s" for k, v in steps.items()))
    log("set-up: " + " ".join(f"{k}={v:.2f}s" for k, v in res["setup_s"].items()))
    for e in res["errors"]:
        log(f"error: {e}")
    plain = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    wall_s, slowest_s = step_medians([p["steps"] for p in plain])
    e2e = {
        "wall_s": wall_s,
        "slowest_query_s": slowest_s,
        "cpu_s": median([p["cpu_s"] for p in plain]),
        "setup_s": gen_s + res["setup_end_ms"] / 1000.0 - launched,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    config = dict(res["config"], workload=name, seed=seed, seconds=seconds, trace=int(trace),
                  heap=HEAP, young=YOUNG, commit=source_id(), passes=len(plain), traced_passes=len(traced),
                  generate_s=round(gen_s, 3))
    print(json.dumps({"config": config}))
    print(f"{name} seed={seed}: " + " ".join(
        f"{k}={v:.4g}{END_TO_END[k]}" for k, v in e2e.items())
        + f" failed_ratio={failed / attempted:.4g} ({failed}/{attempted}) passes={len(plain)}")
    if trace:
        metrics = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
        metrics.update(res["probes"])
        metrics["failed_ratio"] = failed / attempted
        metrics["trace.overhead_s"] = step_medians([p["steps"] for p in traced])[0] - wall_s
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    missing = [k for k in units if k not in metrics]
    for k in missing:
        log(f"metric {k} was not measured")
    return {
        "correct": not bad_checks and failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }


def smoke():
    ok = True
    for name in WORKLOADS:
        for trace in (False, True):
            r = run(name, 1, 1, trace, sf=SMOKE_SF)
            units = PER_LAYER if trace else END_TO_END
            for k, unit in units.items():
                m = r["metrics"].get(k)
                print(f"  {name} trace={int(trace)} {k} = "
                      + (f"{m['value']:.6g} {m['unit']}" if m else "MISSING"))
                ok &= m is not None and m["unit"] == unit
            ok &= r["correct"] and r["failed"] == 0
            print(json.dumps(r))
    return ok


def main():
    # Turn SIGTERM into SystemExit so the harness JVM is killed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload or --smoke is required")
    build()
    if args.smoke:
        sys.exit(0 if smoke() else 1)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
