#!/usr/bin/env python3
"""Benchmark entry point.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints progress and Spark's noise on
stderr and, as the last line of stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json.  The full artifact (stamp,
every run's time, spans, per-layer table) goes to
``layerbench/work/artifacts/``.  Exits 1 when an output check failed and
2 when the run could not start or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PR_SET_CHILD_SUBREAPER = 36
REAP_TIMEOUT_S = 30.0


def _become_subreaper() -> None:
    """Adopt the processes orphaned by this one's children: Spark's Python
    worker daemon outlives the JVM that started it by a moment, and only
    a parent can wait for a process to end."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] == me:
                    pids.append(int(entry))
        except (OSError, IndexError, ValueError):
            continue  # not a process, or exited while listing
    return pids


def _reap_children() -> None:
    """Wait until every process started by this one, directly or not, has
    ended; kill those still running after ``REAP_TIMEOUT_S``."""
    deadline = time.monotonic() + REAP_TIMEOUT_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "small"), default="full",
                   help="input sizes; 'small' is for the harness self-test")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mini_html_parser_spark")):
        print(f"layerbench: no mini_html_parser_spark/ package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from layerbench.harness import run, write_artifact
    from layerbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _become_subreaper()
    try:
        line, artifact = run(args.workload, args.seed, args.seconds, bool(args.trace),
                             args.scale)
    except Exception:
        import traceback

        traceback.print_exc()
        return 2
    finally:
        _reap_children()
    print(f"layerbench: artifact {write_artifact(artifact)}", file=sys.stderr)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
