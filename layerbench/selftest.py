#!/usr/bin/env python3
"""Self-test of the benchmark harness at small input sizes (a few minutes).

    python3 layerbench/selftest.py

Three checks, each printed as PASS or FAIL (exit code 1 on any FAIL):

1. every metric named in BENCHMARK.json is emitted, with its unit, by
   ``run.py --scale small`` on each workload (``--trace 0`` and ``1``),
   and the runs' outputs check as correct;
2. the compare step accepts an artifact paired with itself and refuses
   it once the copy's stamp says another core count, or once the copy
   says it ran an hour later;
3. a deliberately corrupted output fails the output check of every timed
   run, on each workload: an extracted row (``skewed_corpus``), a row of
   the committed snapshot and the job's document count
   (``warc_ingest``), a ``tag_stats`` value (``span_stats_readback``).
"""

from __future__ import annotations

import copy
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SEED = 5


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_cli(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "small"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    artifact = re.search(r"layerbench: artifact (\S+)", p.stderr)
    if p.returncode != 0 or artifact is None:
        raise RuntimeError(f"{workload} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), artifact.group(1)


def check_metrics(spec: dict) -> tuple[bool, list[str]]:
    """Check 1; returns the result and the artifact paths it wrote."""
    from layerbench.workloads import WORKLOADS

    ok = True
    artifacts = []
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line, path = _run_cli(workload, trace)
            artifacts.append(path)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            good = got == want and line["correct"] and line["attempted"] >= 1 and all(
                isinstance(v["value"], (int, float)) for v in line["metrics"].values())
            print(f"  {workload} trace {trace}: {'ok' if good else 'MISMATCH'}"
                  f" ({line['attempted']} runs, {line['failed']} failed)")
            if got != want:
                print(f"    missing {sorted(want.keys() - got.keys())}, "
                      f"extra {sorted(got.keys() - want.keys())}, "
                      f"unit differs {[k for k in want.keys() & got.keys() if want[k] != got[k]]}")
            ok &= good
    return ok, artifacts


def check_compare(artifact: str) -> bool:
    from layerbench.compare import compare, load

    base = load([artifact])
    same = compare(base, copy.deepcopy(base)) == 0
    other = copy.deepcopy(base)
    other[0]["stamp"]["nproc"] += 1
    refused = compare(base, other) == 2
    later = copy.deepcopy(base)
    later[0]["started_at"] += 3600
    apart = compare(base, later) == 2
    print(f"  identical stamps accepted: {same}; different nproc refused: {refused}; "
          f"runs an hour apart refused: {apart}")
    return same and refused and apart


def _all_runs_fail(workload: str, expect: tuple[str, ...]) -> bool:
    """Run ``workload`` at small size; True when every timed run failed
    its output check and each message in ``expect`` was seen."""
    from layerbench import harness

    line, artifact = harness.run(workload, SEED, 1, False, "small")
    errors = [r["error"] or "" for r in artifact["runs"]]
    ok = (not line["correct"] and line["failed"] == line["attempted"]
          and all(any(e in err for e in expect) for err in errors)
          and all(any(e in err for err in errors) for e in expect))
    print(f"  {workload}: correct={line['correct']}, "
          f"failed {line['failed']}/{line['attempted']}; first error: {errors[0]!r}")
    return ok


def _with_changed_text(df):
    """``df`` with one row's text changed (its smallest doc_id)."""
    from pyspark.sql import functions as F

    victim = df.agg(F.min("doc_id")).first()[0]
    return df.withColumn("text", F.when(
        F.col("doc_id") == victim, F.concat("text", F.lit("x"))).otherwise(F.col("text")))


def check_corruption() -> bool:
    """A corrupted output fails every timed run, on each workload:

    * skewed_corpus: one extracted row's text changed;
    * warc_ingest: one row of the committed snapshot changed as it is read
      back, and on every other run the job's own document count too;
    * span_stats_readback: one collected tag_stats value changed.
    """
    from layerbench.reference import digest_aggregate
    from layerbench.workloads import SkewedCorpus, SpanStatsReadback, WarcIngest

    originals = {
        (SkewedCorpus, "extracted"): SkewedCorpus.__dict__["extracted"],
        (WarcIngest, "_read_digest"): WarcIngest.__dict__["_read_digest"],
        (WarcIngest, "run_once"): WarcIngest.run_once,
        (SpanStatsReadback, "run_once"): SpanStatsReadback.run_once,
    }
    extracted = SkewedCorpus.extracted
    warc_run = WarcIngest.run_once
    stats_run = SpanStatsReadback.run_once

    def warc_read_digest(ctx, table):
        from mini_html_parser_spark.plans.icelite import IceliteTable

        return digest_aggregate(_with_changed_text(IceliteTable(table).read(ctx.spark)))

    def warc_run_once(self, ctx, i):
        table, result = warc_run(self, ctx, i)
        if i % 2 == 0:
            metrics = dict(result["metrics"], docs_parsed=result["metrics"]["docs_parsed"] + 1)
            result = dict(result, metrics=metrics)
        return table, result

    def stats_run_once(self, ctx, i):
        rows = [r.asDict() for r in stats_run(self, ctx, i)]
        rows[0]["count"] += 1
        return rows

    SkewedCorpus.extracted = staticmethod(lambda ctx, path: _with_changed_text(extracted(ctx, path)))
    WarcIngest._read_digest = staticmethod(warc_read_digest)
    WarcIngest.run_once = warc_run_once
    SpanStatsReadback.run_once = stats_run_once
    try:
        return all([
            _all_runs_fail("skewed_corpus", ("differs from the scalar reference",)),
            _all_runs_fail("warc_ingest", ("differs from the scalar reference",
                                           "job metrics")),
            _all_runs_fail("span_stats_readback", ("tag_stats",)),
        ])
    finally:
        for (cls, name), value in originals.items():
            setattr(cls, name, value)


def main() -> int:
    spec = _bench_spec()
    results = {}
    print("1. metric names and units")
    results["metrics"], artifacts = check_metrics(spec)
    print("2. compare refuses mismatched stamps and runs far apart")
    results["compare"] = check_compare(artifacts[0])
    print("3. corrupted outputs fail the check")
    results["corruption"] = check_corruption()
    for name, ok in results.items():
        print(f"{'PASS' if ok else 'FAIL'} {name}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
