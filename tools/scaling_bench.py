"""Scaling-efficiency evidence (BASELINE.json north_rule).

The rule's two-cluster-size criterion (N → 4N executors, efficiency
≥ 0.8) cannot use a real cluster in this sandbox, so per the driver
instructions it is evidenced by running the SAME extraction job on the
SAME materialized input at two parallelism levels (default
local[nproc // 4] vs local[nproc], i.e. local[1] vs local[4] on a
4-core box) and reporting docs/sec at both plus

    efficiency = throughput_4N / (4 * throughput_N)

The corpus (deterministic skewed interleaved documents, FIXTURES.md
profile incl. the 1% giant-doc tail) is generated once to parquet;
each measured run is read → size-aware salt/repartition → extraction
kernel → aggregate, in a fresh subprocess (one JVM per master), after
a warm-up pass that exercises the same plan shape.

Usage: python tools/scaling_bench.py [n_docs]          # orchestrator
       python tools/scaling_bench.py --gen N_DOCS DIR  # materialize
       python tools/scaling_bench.py --worker CORES DIR  # one run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_DIR = os.environ.get("SCALE_CORPUS_DIR", "/tmp/scale_corpus")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def gen(n_docs: int, path: str) -> None:
    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.pipeline import build_session

    cores = nproc()
    spark = build_session(master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    generate_documents(spark, n_docs, partitions=4 * cores).write.mode(
        "overwrite").parquet(path)
    spark.stop()


def worker(cores: int, path: str) -> None:
    import time

    from pyspark.sql import functions as F

    from mini_html_parser_spark.operators.extract import extract_documents
    from mini_html_parser_spark.pipeline import build_session, repartition_for_extraction

    spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(path)

    def plan(frac: float | None):
        src = docs.sample(False, frac, seed=7) if frac else docs
        ext = extract_documents(
            repartition_for_extraction(src, cores), "boilerplate_strip"
        )
        return ext.select(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_chars").alias("chars"),
        )

    # warm-up: same plan shape on a sample (worker imports + JIT)
    plan(0.15).collect()
    # best-of-N measured passes, fresh plan lineage each time (no
    # cross-job shuffle reuse) — single-pass numbers swing ±10-30% on
    # this VM (neighbor load / page cache / JIT); the efficiency ratio
    # is hypersensitive because numerator and denominator are measured
    # in different minutes.  The orchestrator trades in-worker passes
    # for interleaved outer reps (SCALE_PASSES=2 when SCALE_REPS>1):
    # samples spread across separated minute-windows beat samples
    # bunched into one.
    n_passes = int(os.environ.get("SCALE_PASSES", "3"))
    dt = float("inf")
    row = None
    for _ in range(n_passes):
        p = plan(None)
        t0 = time.perf_counter()
        r = p.collect()[0]
        d = time.perf_counter() - t0
        if d < dt:
            dt, row = d, r
    print(json.dumps({
        "cores": cores,
        "n_docs": int(row["docs"]),
        "seconds": round(dt, 3),
        "docs_per_sec": round(row["docs"] / dt, 2),
        "extracted_mb_per_sec": round(row["chars"] / 1e6 / dt, 2),
        "spans": int(row["spans"]),
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--gen":
        gen(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3])
        return

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 24000
    if "SCALE_LEVELS" in os.environ:
        levels = [int(x) for x in os.environ["SCALE_LEVELS"].split(",")]
    else:
        # the N→4N step that fits this box: nproc // 4 → nproc
        top = nproc()
        levels = [int(os.environ.get("SCALE_N", max(1, top // 4))),
                  int(os.environ.get("SCALE_4N", top))]
        levels = sorted(set(levels))

    me = os.path.abspath(__file__)
    subprocess.run([sys.executable, me, "--gen", str(n_docs), CORPUS_DIR], check=True,
                   capture_output=True, text=True)
    from mini_html_parser_spark.pipeline import await_idle

    thresh = float(os.environ.get("SCALE_IDLE_THRESHOLD", "2.0"))
    timeout = float(os.environ.get("SCALE_IDLE_TIMEOUT", "300"))
    # INTERLEAVED outer reps (default 2): the efficiency ratio divides
    # numbers measured minutes apart, and minute-scale drift on this
    # VM swings a single level ±10-30% (BENCH/BASELINE.md) — far more
    # than it swings two ADJACENT measurements.  Visiting every level
    # per rep samples each level in separated minute-windows; the
    # per-level result is the BEST across reps (noise only ever slows
    # a run down, so max is the capability estimator — the same
    # rationale as the in-worker best-of-3).
    reps = int(os.environ.get("SCALE_REPS", "2"))
    if reps > 1:
        os.environ.setdefault("SCALE_PASSES", "2")
    results = {}
    samples = {c: [] for c in levels}
    gates = []
    for rep in range(reps):
        for cores in levels:
            # idle gate per MEASUREMENT (bench.py's shared helper):
            # one noisy window under either level corrupts the ratio
            # far more than it corrupts a single timing.  The wait
            # also absorbs the previous level's own load decay.
            gate = {"rep": rep, "level": cores, **await_idle(thresh, timeout)}
            gates.append(gate)
            print(json.dumps({"idle_gate": gate}))
            out = subprocess.run(
                [sys.executable, me, "--worker", str(cores), CORPUS_DIR],
                capture_output=True, text=True, check=True)
            line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
            res = json.loads(line)
            samples[cores].append(res)
            print(line)
    for cores in levels:
        results[cores] = max(samples[cores], key=lambda r: r["docs_per_sec"])
    ladder = []
    for lo, hi in zip(levels, levels[1:]):
        ratio = hi / lo
        eff = results[hi]["docs_per_sec"] / (ratio * results[lo]["docs_per_sec"])
        step = {
            "scaling": f"local[{lo}] -> local[{hi}]",
            "docs_per_sec_N": results[lo]["docs_per_sec"],
            "docs_per_sec_4N": results[hi]["docs_per_sec"],
            "efficiency": round(eff, 3),
            "target": 0.8,
            "pass": eff >= 0.8,
        }
        ladder.append(step)
        print(json.dumps(step))
    # ladder-artifact parity with the headline bench (VERDICT r5 #6):
    # one JSON file per run, idle-gate stamps per level — committed as
    # SCALING_r{N}.json each round so round-over-round efficiency is
    # machine-comparable, not prose in BASELINE.md.
    artifact = {
        "n_docs": n_docs,
        "levels": {str(c): results[c] for c in levels},
        "samples": {str(c): samples[c] for c in levels},
        "reps": reps,
        "idle_gates": gates,
        "ladder": ladder,
        "north_rule_step": f"{levels[0]}->{levels[-1]} (nproc={nproc()})",
    }
    path = os.environ.get(
        "SCALE_ARTIFACT",
        os.path.join(os.path.dirname(os.path.dirname(me)), "BENCH",
                     "last_scaling.json"),
    )
    try:
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps({"artifact": path}))
    except OSError:
        pass


if __name__ == "__main__":
    main()
