"""Benchmark entry point.

    python3 benchmark/run.py --workload ann_interactive --seed 1 --seconds 10 --trace 0

Run it from the root of a repository checkout. It runs one workload
(benchmark/workloads.py) in a child process with its own process group,
keeps every file it writes under ``.bench_work/`` in the checkout, stops
every process the run started, and prints the run record, the layer
table (``--trace 1``) and, as the last line, the result JSON:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics.

Exits non-zero, without a result line, when the checkout holds no
``rust_diskann_spark`` package or the run fails.

The repository's older ``bench.py`` regression gate is separate and
unchanged. Its ``BENCH_r*.json`` history is not comparable with these
numbers: it ran on 32 cores over a 2,000-vector corpus and kept the
best of several attempts, where every run here is reported as measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ann_interactive", "dedup_docs")
RUN_TIMEOUT_S = 170


def _kill_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the whole process group; returns once no
    member is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rust_diskann_spark", "__init__.py")):
        print("benchmark: run from the root of a checkout holding the "
              "rust_diskann_spark package", file=sys.stderr)
        return 2

    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    state = os.path.join(base, "state")
    tmp = os.path.join(base, "tmp")  # also caches the compiled kernel
    for d in (work, state, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "RDS_SCAN_CACHE_DIR": os.path.join(work, "shard-cache"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata files in the system temp dir, for every JVM started
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    env.pop("RDS_PROFILE_DIR", None)
    if args.trace:
        env["RDS_PROFILE_DIR"] = os.path.join(work, "profile")
        os.makedirs(env["RDS_PROFILE_DIR"], exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--state", state, "--out", out,
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = -1
    finally:
        _kill_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
    try:
        with open(out) as fh:
            res = json.load(fh) if code == 0 else None
    except (OSError, ValueError):
        res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print(f"benchmark: workload exited with code {code} and no result", file=sys.stderr)
        return 1

    print("run record: " + json.dumps(res["record"], sort_keys=True))
    for line in res["tables"]:
        print(line)
    if args.trace:
        print(f"  tracing overhead: traced/untraced throughput = "
              f"{res['result']['metrics']['trace.throughput_vs_untraced']['value']:.3f}"
              " (0 = no untraced run of this seed on record)")
    for name, m in res["result"]["metrics"].items():
        print(f"  {name:<34} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
