#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its result.

    python3 perfbench/run.py --workload ann_inmem_ood --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine is compiled from the checked-out
sources first (see build.py). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. The lines before it give the host fingerprint and every
metric by name with its unit. The full record of the run (including the
workload's detail and, traced, its spans) is kept under perfbench/out/.

Every run works in perfbench/.run, refuses to start if a previous run left
it behind, and deletes it when done: Spark local scratch, temp files and
the index tables all live there.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # no __pycache__ left in the checkout
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the query suite's expectations from this run")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")

    scratch = os.path.join(BENCH, ".run")
    if os.path.exists(scratch):
        fail(f"scratch of a previous run is still present: {scratch}; "
             "a run must leave nothing behind, so this one will not start", 3)

    try:
        classes, src_sha = build.build(root)
    except (OSError, RuntimeError) as e:
        fail(f"build failed: {e}")

    os.makedirs(os.path.join(scratch, "tmp"))
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(scratch, "result.json")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")]),
            "graft.perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scratch", scratch, "--bench-dir", BENCH,
            "--result", result_path]
    if a.trace:
        cmd += ["--spans", os.path.join(out_dir, tag + ".spans.jsonl")]
    if a.record:
        cmd += ["--record", os.path.join(BENCH, "expected", f"{a.workload}.tsv")]

    # the JVM's stdout holds engine log lines: keep it off our stdout
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(4)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
        res = None
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as fh:
                res = json.load(fh)
    except subprocess.TimeoutExpired:
        code, res = "timeout", None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"[perfbench] JVM ran {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    if res is None:
        fail(f"harness JVM ended with {code} and no result", 5)

    res["fingerprint"].update({"git_sha": git_sha(root), "source_sha256": src_sha,
                               "os_cpus": os.cpu_count(), "seconds": a.seconds})
    with open(os.path.join(out_dir, tag + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layer"] if a.trace else {k: {"value": v} for k, v in res["e2e"].items()}
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"], {}).get("value")
        if finite(v):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    failed = res["failed"] + len(missing)
    attempted = res["attempted"] + len(missing)

    fp = dict(res["fingerprint"], workload=a.workload, seed=a.seed, trace=a.trace)
    print(json.dumps({"fingerprint": fp}))
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    print(f"{'error_rate':32s} {failed / attempted:.6g} ratio  ({failed} of {attempted} failed)")
    for f in res["failures"]:
        print(f"FAILED {f}")
    for name in missing:
        print(f"MISSING metric {name}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
