"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --workload all      # every workload in BENCHMARK.json, as a table
  python3 perfbench/run.py --selftest

The first call in a checkout builds the engine and the harness
(perfbench/build.py). See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lloyd_2d", "lloyd_nd", "corpus_pipeline", "store_serve")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    root = os.getcwd()
    try:
        p = build.ensure(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if a.selftest:
        return subprocess.run(build.java_cmd(root) + ["perfbench.Main", "--selftest"]).returncode
    if a.workload == "all":
        return run_all(root, p, a)
    return run_one(root, p, a.workload, a.seed, a.seconds, a.trace)


def run_all(root, p, a):
    """Run every workload BENCHMARK.json lists and print its metrics by name."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    failed = 0
    for w in workloads:
        out = run_one(root, p, w, a.seed, a.seconds, a.trace, quiet=True)
        if out is None:
            failed += 1
            print(f"{w}: no result")
            continue
        print(f"{w}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']}")
        for name, m in out["metrics"].items():
            print(f"  {name:<34} {m['value']:>16.6g} {m['unit']}")
        failed += 0 if out["correct"] else 1
    return 1 if failed else 0


def run_one(root, p, workload, seed, seconds, trace, quiet=False):
    log_path = os.path.join(p["logs"], f"{workload}-{seed}-{trace}.log")
    cmd = build.java_cmd(root) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", p["work"]]
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=root,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"timed out after {RUN_TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
            return None if quiet else 1
    lines = out.decode(errors="replace").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(open(log_path, errors="replace").read()[-3000:])
        print(f"benchmark failed (exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        return None if quiet else 1
    result = json.loads(lines[-1])
    mismatch = metric_mismatch(root, result, trace)
    if mismatch:
        print(f"metrics differ from BENCHMARK.json: {mismatch}", file=sys.stderr)
        return None if quiet else 1
    if quiet:
        return result
    print("\n".join(lines))
    return 0


def metric_mismatch(root, result, trace):
    """Names BENCHMARK.json lists for this mode that the run did not report,
    or the reverse; empty when they agree."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = set(result["metrics"])
    return ", ".join(sorted(want ^ got))


if __name__ == "__main__":
    sys.exit(main())
