"""Benchmark of record for the transcript pipeline.

    python3 perfbench/run.py --workload kills_summary --seed 1 --seconds 6 --trace 0

A closed loop: one client runs one job at a time on ``local[nproc]``.
Every measured process is fresh, because the production shape is a
one-shot ``spark-submit`` of ``jobs/run_pipeline.py``.  Inputs come from
the seeded generator (``gen.py``, cached per (table, seed, turns) under
``.perfbench_work/``) and the program only sees the generated parquet;
every rep's outputs are checked against an independent DuckDB
derivation (``oracle.py``).

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``,
all in CPU seconds of the process tree (this process, the JVM and the
Python workers): set-up of the fresh process up to a ready
``get_spark()``, the first workload call in the fresh JVM, the median
warm rep (less the JIT compiler's share), and turns per warm-rep CPU
second.  Wall-clock figures go to the run record and, with
``--trace 1``, to the per-layer metrics: on a shared host the time
stolen from one vCPU stalls every stage on its slowest task, so wall
time spreads too widely between runs to bound a regression.
``--trace 1`` reports the per-layer metrics: the same process also runs
a session with Spark's event log on (``eventlog.py`` attributes its SQL
metrics to the repository's modules).  For ``kills_summary`` that
session also runs the table through ``run_resumable`` from a pre-seeded
checkpoint (the checkpoint and Arrow-parse layers), and a ``local[1]``
session gives the scaling ratio.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

# workload -> (generated table, turns)
TABLES = {
    "kills_summary": ("kills", 250_000),
    "nightly_job": ("chat", 40_000),
}
# layer metrics the kills_summary trace takes from its resumable-plan reps
RESUME_LAYERS = ("checkpoint.", "parse.python", "parse.arrow", "parse.error_rows")
CACHED_INPUTS = 24
CHILD_TIMEOUT_S = 160.0
# the one program setting the runner overrides: shuffle and spill files
# go inside the checkout instead of /dev/shm, because the benchmark
# writes nowhere else
OVERRIDES = {"SPARK_GRAFT_LOCAL_DIR": str(WORK / "spark-local")}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def inputs(workload: str, seed: int) -> Path:
    """Directory with ``table/`` (parquet), ``checkpoint.parquet`` and
    ``expected.json``; generated once per (table, seed, turns)."""
    import pyarrow.parquet as pq

    import gen
    import oracle

    kind, turns = TABLES[workload]
    root = WORK / "data"
    out = root / f"{kind}-{seed}-{turns}"
    if not (out / "expected.json").is_file():
        tmp = root / f".{out.name}.partial"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_table(gen.build_table(kind, seed, turns), tmp / "table")
        ckpt, pending = gen.checkpoint_table(seed)
        pq.write_table(ckpt, tmp / "checkpoint.parquet")
        exp = oracle.expected(tmp / "table")
        exp["pending"] = pending
        (tmp / "expected.json").write_text(json.dumps(exp))
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    out.touch()
    cached = sorted(
        (p for p in root.iterdir() if not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
    )
    for old in cached[:-CACHED_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------


def _session_pids(sid: int) -> list[int]:
    pids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            pids.append(int(stat.parent.name))
    return pids


def _reap(sid: int, grace_s: float = 15.0) -> None:
    """Wait until every process of session ``sid`` (the job, its JVM and
    the Python workers) has ended; signal stragglers after ``grace_s``."""
    t0 = time.monotonic()
    while pids := _session_pids(sid):
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def child_env(n_cpus: int) -> dict[str, str]:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    env.update(OVERRIDES)
    env.update({
        "SPARK_GRAFT_CPUS": str(n_cpus),
        # the Python workers import the package by module path
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return env


def spawn(job_args: list[str], n_cpus: int, name: str) -> dict:
    """Run ``job.py`` in a fresh session and return its result file."""
    run_dir = WORK / "run"
    result = run_dir / f"{name}.json"
    result.unlink(missing_ok=True)
    cmd = [
        sys.executable, str(HERE / "job.py"), *job_args,
        "--cpus", str(n_cpus), "--work", str(run_dir), "--result", str(result),
    ]
    with open(run_dir / "job.log", "ab") as log:
        proc = subprocess.Popen(
            [*cmd, "--spawned-at", repr(time.monotonic())],
            env=child_env(n_cpus), cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            _reap(proc.pid)
    if proc.returncode != 0 or not result.is_file():
        raise RuntimeError(
            f"{name} exited with {proc.returncode}; see {run_dir / 'job.log'}"
        )
    return json.loads(result.read_text())


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _warm(reps: list[dict]) -> list[dict]:
    return [r for r in reps if r["warm"] and r["ok"]]


def end_to_end(job_args: list[str], exp: dict) -> tuple[dict, list[dict]]:
    main = spawn(job_args, cpus(), "main")
    reps = main["untraced"]
    warm = _warm(reps)
    # the JIT compiler is still at work during warm reps: a one-time cost
    # that the first run carries in full
    run_cpu_s = statistics.median(r["cpu_s"] - r["jit_s"] for r in warm)
    return {
        "setup_s": main["setup_cpu_s"],
        "first_run_cpu_s": reps[0]["cpu_s"],
        "run_cpu_s": run_cpu_s,
        "turns_per_cpu_s": exp["turns"] / run_cpu_s,
        # wall-clock figures, kept in the run record
        "wall.setup_s": main["setup_s"],
        "first_run_s": reps[0]["s"],
        "run_s": statistics.median(r["s"] for r in warm),
        "peak_rss_mb": main["peak_rss_mb"],
    }, reps


def per_layer(job_args: list[str], exp: dict) -> tuple[dict, list[dict]]:
    import eventlog

    evdir = WORK / "run" / "eventlog"
    shutil.rmtree(evdir, ignore_errors=True)
    res = spawn([*job_args, "--eventlog", str(evdir)], cpus(), "traced")
    (evfile,) = evdir.iterdir()
    traced = res["traced"]
    measured = [r for r in traced if r["warm"] and r["ok"]]
    layers = eventlog.median_layers(
        eventlog.layer_metrics(evfile, res["spans"], [r["tag"] for r in measured])
    )
    layers.update(eventlog.median_layers([r["obs"] for r in measured]))
    resume = [r for r in res.get("resume", []) if r["warm"] and r["ok"]]
    if resume:  # kills_summary: the same table through run_resumable
        per_rep = eventlog.layer_metrics(
            evfile, res["spans"], [r["tag"] for r in resume] + ["noop"]
        )
        r_layers = eventlog.median_layers(per_rep[:-1])
        r_layers.update(eventlog.median_layers([r["obs"] for r in resume]))
        r_layers["checkpoint.noop_resume_s"] = per_rep[-1]["checkpoint.noop_resume_s"]
        r_layers["checkpoint.useful_ratio"] = (
            r_layers["checkpoint.pending_rows"] / r_layers["checkpoint.scanned_rows"]
        )
        layers.update((k, v) for k, v in r_layers.items() if k.startswith(RESUME_LAYERS))
    untraced = _warm(res["untraced"])
    t_n = statistics.median(r["s"] for r in untraced)
    t_traced = statistics.median(r["s"] for r in measured)
    first = res["untraced"][0]["s"]
    layers.update({
        "wall.setup_s": res["setup_s"],
        "wall.first_run_s": first,
        "wall.run_s": t_n,
        "wall.turns_per_s": exp["turns"] / t_n,
        "jvm.first_run_extra_s": first - t_n,
        "jvm.jit_s": statistics.median(r["jit_s"] for r in untraced),
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "trace.run_s": t_traced,
        "trace.overhead_ratio": t_traced / t_n,
    })
    one_core = res.get("one_core", [])
    if one_core:
        t_1 = statistics.median(r["s"] for r in _warm(one_core))
        layers["scale.run_s_1core"] = t_1
        layers["scale.eff_1to4"] = t_1 / (cpus() * t_n)
    noop = [res["noop"]] if "noop" in res else []
    return layers, res["untraced"] + traced + res.get("resume", []) + noop + one_core


def environment() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = next(
        int(line.split()[1]) for line in open("/proc/meminfo")
        if line.startswith("MemTotal:")
    )
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "nproc": cpus(), "ram_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__, "java": java[0] if java else "unknown",
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
        "python": platform.python_version(), "overrides": OVERRIDES,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "quake3_log_analyser_spark" / "__init__.py").is_file():
        print(f"no program package next to {HERE}", file=sys.stderr)
        return 2
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    (WORK / "run").mkdir(parents=True, exist_ok=True)
    (WORK / "run" / "job.log").write_bytes(b"")
    data = inputs(args.workload, args.seed)
    exp = json.loads((data / "expected.json").read_text())
    job_args = [
        "--workload", args.workload, "--data", str(data / "table"),
        "--expected", str(data / "expected.json"),
        "--checkpoint", str(data / "checkpoint.parquet"),
        "--pending", ",".join(map(str, exp["pending"])),
        "--seconds", str(args.seconds),
    ]
    measure = per_layer if args.trace else end_to_end
    try:
        values, reps = measure(job_args, exp)
    except (RuntimeError, statistics.StatisticsError) as err:
        print(f"benchmark failed: {err}", file=sys.stderr)
        return 1
    failed = [r for r in reps if not r["ok"]]
    for r in failed[:3]:
        print(f"FAILED rep {r['tag']}: {r['errors']}", file=sys.stderr)

    env = environment()
    (WORK / "run" / "last_run.json").write_text(json.dumps(
        {"args": vars(args), "env": env, "values": values, "reps": reps}
    ))
    print(f"# {args.workload} seed={args.seed} turns={exp['turns']} env={json.dumps(env)}")
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:32s} {v:16.6f} {m['unit']}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(reps),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
