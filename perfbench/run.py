#!/usr/bin/env python3
"""Benchmark of the E1 report job at volume and of the LLM-data keys.

Run from the root of a checkout:

    python3 perfbench/run.py --workload e1_daily_append --seed 1 \
        --seconds 15 --trace 0

One run = three steps:

1. this process writes the seeded inputs (and the daily job's sink
   history) with ``corpus.py``, which is pure Python, so no JVM starts
   before the measured one;
2. ``job.py``, in its own process, builds the session, times the first
   job (``cold_s``) and later jobs (``warm_s``) for ``--seconds``, and
   checks every output;
3. this process (``--trace 1`` only) reads the Spark event log and the
   spans into per-layer metrics (``eventlog.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced). Everything a run writes lives in
``.perfbench_runs/<run>/`` under the checkout and is removed at exit;
each run gets its own ``TMPDIR`` and Spark local dir there. Only the
DuckDB oracle answers of the llm keys stay, in
``.perfbench_runs/oracles/``, for the next run of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("e1_daily_append", "llm_corpus_ops")
#: wall budget of one run's child processes (a run must end within 180 s)
CHILD_TIMEOUT_S = 170
#: driver heap limit: a quarter of RAM, at most 2 GiB (local mode keeps
#: the executors in this one JVM; the package default of 16g exceeds
#: the RAM of small hosts)
MAX_DRIVER_MEM_MB = 2048


def driver_mem() -> str:
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(MAX_DRIVER_MEM_MB, ram_mb // 4)}m"


def child_env(rundir: str) -> dict[str, str]:
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        # no Derby metastore in the working directory
        SPARK_GRAFT_HIVE="0",
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def run_child(args: list[str], env: dict[str, str], deadline: float) -> None:
    """Run one step in its own process group; on timeout or error the
    whole group (the JVM included) is killed and waited for."""
    proc = subprocess.Popen(
        [sys.executable, *args], env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0:
        raise RuntimeError(f"{os.path.basename(args[0])} failed (exit {rc})")


def end_to_end(res: dict) -> dict[str, dict]:
    times = res["times"]
    warm = times[1 + res["drop_warm"]:]
    warm_s = statistics.median(warm)
    rec = statistics.median(res["records"][1 + res["drop_warm"]:])
    ok = 1.0 - res["failed"] / res["attempted"]
    return {
        "setup_s": {"value": res["session"]["setup_s"], "unit": "s"},
        "cold_s": {"value": times[0], "unit": "s"},
        "warm_s": {"value": warm_s, "unit": "s"},
        "records_per_s": {"value": rec / warm_s, "unit": "1/s"},
        "heap_live_mb": {"value": res["heap_live_mb"], "unit": "MB"},
        "ok_ratio": {"value": ok, "unit": "ratio"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops and reaps its children (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "reports_generator_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2

    deadline = time.monotonic() + CHILD_TIMEOUT_S
    rundir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        env = child_env(rundir)
        sys.path.insert(0, ROOT)
        import corpus

        with open(os.path.join(rundir, "manifest.json"), "w") as fh:
            json.dump(corpus.generate(args.workload, args.seed, rundir), fh)
        run_child(
            [os.path.join(HERE, "job.py"), "--rundir", rundir, "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            env,
            deadline,
        )
        with open(os.path.join(rundir, "result.json")) as fh:
            res = json.load(fh)
        for err in res["errors"]:
            print(f"perfbench: wrong output: {err}", file=sys.stderr)
        n_warm = len(res["times"]) - 1 - res["drop_warm"]
        print(
            f"perfbench: {args.workload} seed {args.seed}: cold {res['times'][0]:.3f} s, "
            f"warm median of {n_warm} samples, job times {[round(t, 3) for t in res['times']]}",
            file=sys.stderr,
        )
        if args.trace:
            import eventlog

            metrics = eventlog.per_layer(rundir, args.workload, res)
        else:
            metrics = end_to_end(res)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:  # another run still uses it
            pass
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
