#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM at local[4].

    python3 perfbench/run.py --workload clips_dedup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Builds the library and the benchmark from the checkout's sources (see
build.py), generates the workload's inputs from the seed inside a per-run
directory, runs ops for --seconds, checks every op's output and prints, as
the last line of stdout, one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1). Lines before it carry the host context
and, when traced, the spans. The per-run directory is deleted on exit,
also on failure. See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
RUN_LIMIT_S = 170
# free disk a run needs: inputs, checkpoint roots, Spark scratch
NEED_GB = {"clips_dedup": 2.0, "cc_graph": 2.0}
HEAP = "3g"
JVM_OPTS = [
    "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spin_probe():
    """Seconds for a fixed single-thread loop. Shows slow-host windows; it
    never selects or drops runs."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs: steal is time the
    hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run(args):
    started = time.monotonic()
    if args.workload not in NEED_GB:
        fail(f"unknown workload {args.workload}; one of {sorted(NEED_GB)}", 2)
    try:
        classes, source_digest = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    free_gb = shutil.disk_usage(ROOT).free / 2**30
    if free_gb < NEED_GB[args.workload]:
        fail(f"{free_gb:.1f} GB free, {args.workload} needs {NEED_GB[args.workload]} GB", 3)

    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    probe_before = spin_probe()
    ticks_before = cpu_ticks()
    proc = None
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        log_path = os.path.join(run_dir, "jvm.log")
        cmd = ["java"] + JVM_OPTS + [
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--scale", args.scale]
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    cwd=run_dir, text=True)
            limit = max(30, RUN_LIMIT_S - (time.monotonic() - started))
            try:
                stdout, _ = proc.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {limit:.0f} s")
        lines = dict(ln.split(" ", 1) for ln in stdout.splitlines()
                     if ln.split(" ", 1)[0] in ("context", "spans", "result"))
        if proc.returncode != 0 or "result" not in lines:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"JVM exited with {proc.returncode} and no result")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    steal, total = (b - a for a, b in zip(ticks_before, cpu_ticks()))
    context = json.loads(lines["context"])
    context.update({
        "cpu_steal_share": steal / total if total else 0.0,
        "nproc": len(os.sched_getaffinity(0)),
        "jvm_heap": HEAP,
        "free_disk_gb": round(free_gb, 2),
        "git_commit": git_commit(),
        "source_digest": source_digest,
        "seed": args.seed,
        "trace": args.trace,
        "spin_probe_before_s": probe_before,
        "spin_probe_after_s": spin_probe(),
    })
    print("context " + json.dumps(context))
    if "spans" in lines:
        print("spans " + lines["spans"])
    print(lines["result"])


def smoke():
    """Runs every workload at a tiny size, untraced and traced, and checks
    that the printed metrics are exactly BENCHMARK.json's, each with its
    unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace),
                 "--scale", "tiny"], capture_output=True, text=True)
            try:
                res = json.loads(r.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                print(f"FAIL {w} trace={trace}: no result\n{r.stderr[-2000:]}")
                ok = False
                continue
            got = {n: m.get("unit") for n, m in res["metrics"].items()}
            problems = []
            if set(got) != set(want):
                problems.append(f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            problems += [f"{n}: unit {u!r} != {want.get(n)!r}" for n, u in got.items()
                         if not u or (n in want and u != want[n])]
            problems += [f"{n}: value {m.get('value')!r}" for n, m in res["metrics"].items()
                         if not isinstance(m.get("value"), (int, float))]
            if not res.get("correct"):
                problems.append(f"incorrect: {res.get('failed')} of {res.get('attempted')} ops failed")
            ok &= not problems
            print(f"{'ok  ' if not problems else 'FAIL'} {w} trace={trace} "
                  f"({len(got)} metrics) {'; '.join(problems)}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny-size run of every workload, traced and untraced")
    args = ap.parse_args()
    # a terminated run still stops the JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        smoke()
    elif not args.workload:
        ap.error("--workload is required")
    else:
        run(args)


if __name__ == "__main__":
    main()
