"""Scaling-efficiency evidence (BASELINE.md protocol).

No real cluster exists in this sandbox, so the N -> 4N executor criterion
is evidenced by running the identical job at two local parallelism levels
(fresh JVM each, via subprocess) on the SAME input and reporting
throughput at both plus efficiency = (T_N / T_4N) / 4.

The input must be large enough that per-core work dominates fixed startup
(at sf0.1's 1.5M turns the whole job is ~3 s of mostly fixed overhead and
any scaling number is noise), so this harness generates a dedicated
~16M-turn table once under data/.

Writes BENCH/scaling_run.md (BENCH/BASELINE.md is the curated
round-level evidence document - do not clobber it).  Usage:
    python scripts/scaling_bench.py [n_cores] [n_turns_millions]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def ensure_big_table(n_turns: int) -> str:
    turns_per_conv = 600
    n_convs = n_turns // turns_per_conv
    path = REPO / "data" / f"transcripts_scaling_{n_convs}x{turns_per_conv}"
    if not (path / "_SUCCESS").exists():
        from quake3_log_analyser_spark.datagen import generate_transcripts
        from quake3_log_analyser_spark.session import get_spark

        spark = get_spark("scaling-gen", cpus=os.cpu_count())
        generate_transcripts(
            spark,
            n_convs=n_convs,
            turns_per_conv=turns_per_conv,
            malformed_per_mille=5,
            hot_conv_factor=8,
            partitions=128,
        ).write.mode("overwrite").parquet(str(path))
        spark.stop()
    return str(path)


def run_worker(cpus: int, tpath: str, mode: str = "adhoc") -> dict:
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts/scaling_worker.py"), str(cpus),
         tpath, "3", mode],
        capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker {cpus} failed: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    turns_m = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    # "bucketed" = the deployment plan (conv_id-bucketed sorted table,
    # session-first fenced-expr, zero exchanges) — the r4 2->8 pair on it
    # measured 0.94-0.99; "adhoc" = plain parquet + shuffle/sort window
    mode = sys.argv[3] if len(sys.argv) > 3 else "adhoc"
    tpath = ensure_big_table(turns_m * 1_000_000)
    small = run_worker(n, tpath, mode)
    big = run_worker(4 * n, tpath, mode)
    eff = (small["seconds"] / big["seconds"]) / 4 if big["seconds"] else 0.0
    report = {
        "mode": mode,
        "n_cores": n,
        "turns_per_sec_N": small["turns_per_sec"],
        "turns_per_sec_4N": big["turns_per_sec"],
        "seconds_N": small["seconds"],
        "seconds_4N": big["seconds"],
        "scaling_efficiency": round(eff, 3),
        "n_turns": small["n_turns"],
    }
    print(json.dumps(report))

    md = REPO / "BENCH"
    md.mkdir(exist_ok=True)
    plan_desc = (
        "conv_id-bucketed sorted table -> raw-text session window (no "
        "shuffle, no sort) -> fenced expr parse -> per-match aggregate "
        "(zero exchanges)"
        if mode == "bucketed"
        else "parquet scan -> expr/arrow parse -> shuffle+sort sessionize "
        "window -> per-match aggregate"
    )
    (md / "scaling_run.md").write_text(
        f"""# BENCH/scaling_run — one N-vs-4N measurement (local[{n}] vs local[{4*n}], mode={mode})

Protocol per BASELINE.md: identical job — {plan_desc} — over
{report['n_turns']:,} synthetic transcript turns at two parallelism
levels, fresh JVM each, shuffle partitions = cores, best of 3 timed runs
after two warm-ups.

| cores | end-to-end sec | turns/sec |
|---|---|---|
| {n} | {report['seconds_N']} | {report['turns_per_sec_N']:,} |
| {4*n} | {report['seconds_4N']} | {report['turns_per_sec_4N']:,} |

**Scaling efficiency (T_{n} / T_{4*n}) / 4 = {report['scaling_efficiency']}**
(target >= 0.8 per BASELINE.json).

Reference single-thread baseline: ~3,000,000 log lines/sec
(/root/reference/README.md:62, hardware unspecified).

Notes:
- the per-round BENCH_r{{N}}.json came from the retired round harness at
  sf0.1 (~1.5M turns), where fixed startup dominates — scaling numbers
  are only meaningful on this harness's larger table;
- the bucketed + session-first plan (`scaling_worker.py` bucketed mode)
  removes the one remaining shuffle+sort before the window; at cluster
  scale that plan's scaling is limited only by the post-parse grouped
  aggregations.
"""
    )
    print(f"wrote {md / 'scaling_run.md'}")


if __name__ == "__main__":
    main()
