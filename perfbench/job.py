"""One benchmark process: a fresh JVM that runs one workload repeatedly.

Started by ``run.py`` with ``PYTHONPATH`` at the repository root, like a
one-shot ``spark-submit`` of ``jobs/run_pipeline.py``.  It measures wall
and CPU time from process start to a ready ``get_spark()``, then of the
first workload call (the cost a nightly submit pays for codegen, JIT and
Python-worker spawn), two more warm-up calls and measured repetitions
until its measuring time is spent.  Every rep's outputs are checked
against the DuckDB expectations outside the timed region.

With ``--eventlog`` it then runs a second session in the same JVM with
Spark's event log on and wall spans around each public call (the
per-layer trace).  For ``kills_summary`` that session also runs the
same table through the resumable plan, and a third session at
``local[1]`` gives the scaling pair.  Each new session's first rep of a
plan is a warm-up and is not measured.

Writes one JSON result file; the parent prints the benchmark result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

# measured reps per loop, however short its measuring time
MIN_REPS = 3


class Spans:
    """Wall spans around public calls, kept in memory until the end.

    ``kind`` is ``plan`` for lazy calls (the span is planning time) and
    ``action`` for calls that execute; ``rep`` ties a span to the
    event-log executions that started inside it.  Disabled, it records
    nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.records: list[dict] = []
        self._open: list[int] = []
        self.rep = ""

    @contextmanager
    def __call__(self, name: str, kind: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name, "kind": kind, "rep": self.rep,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
        }
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()


class Workload:
    """``prepare`` (untimed), ``run`` (timed), ``check`` (untimed: returns
    mismatch descriptions and fills ``self.obs`` with output counts)."""

    def __init__(self, spark, data: Path, work: Path, exp: dict, span: Spans,
                 checkpoint: Path, pending: list[int]):
        self.spark, self.data, self.work, self.exp, self.span = spark, data, work, exp, span
        self.checkpoint, self.pending = checkpoint, pending
        self.obs: dict = {}

    def prepare(self, rep: int) -> None:
        pass



class KillsSummary(Workload):
    def run(self, rep: int) -> None:
        from quake3_log_analyser_spark.plans.pipeline import summarize_matches
        from quake3_log_analyser_spark.sources.transcripts import load_transcripts

        with self.span("load_transcripts", "plan"):
            t = load_transcripts(self.spark, str(self.data))
        with self.span("summarize_matches", "plan"):
            s = summarize_matches(t, ops={"kills"})
        with self.span("collect", "action"):
            self.out = s.select("conv_id", "match_id", "total_kills", "error").toArrow()

    def check(self, rep: int) -> list[str]:
        import oracle

        cols = [self.out.column(c).to_pylist() for c in self.out.column_names]
        return oracle.check_summary_rows(list(zip(*cols)), self.exp)


class NightlyJob(Workload):
    def run(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from quake3_log_analyser_spark.datagen import dim_means_of_death
        from quake3_log_analyser_spark.operators.enrich import (
            enrich_kills,
            unknown_reason_codes,
        )
        from quake3_log_analyser_spark.operators.parse import parse_transcripts
        from quake3_log_analyser_spark.operators.route import write_sinks
        from quake3_log_analyser_spark.operators.sessionize import sessionize
        from quake3_log_analyser_spark.plans.pipeline import (
            full_pipeline_ops,
            summarize_matches,
        )
        from quake3_log_analyser_spark.sources.transcripts import load_transcripts

        spark, span, out = self.spark, self.span, self.work / "out"
        with span("load_transcripts", "plan"):
            t = load_transcripts(spark, str(self.data))
        with span("parse_transcripts", "plan"):
            parsed = parse_transcripts(t)
        with span("sessionize", "plan"):
            sess = sessionize(parsed)
        with span("write_sinks", "action"):
            paths = write_sinks(sess, str(out / "sinks"))
        with span("enrich", "action"):
            kills = spark.read.parquet(paths["kills"])
            dim = dim_means_of_death(spark)
            self.enriched = (
                enrich_kills(kills, dim)
                .agg(F.count(F.lit(1)), F.count_if(~F.col("reason_name_matches")))
                .collect()[0]
            )
            self.unknown = [tuple(r) for r in unknown_reason_codes(kills, dim).collect()]
        with span("summarize_matches", "plan"):
            s = summarize_matches(t, ops=full_pipeline_ops())
        with span("write_summaries", "action"):
            s.write.mode("overwrite").parquet(str(out / "match_summaries"))

    def check(self, rep: int) -> list[str]:
        import oracle

        out = self.work / "out"
        errs, sinks = oracle.check_sinks(out / "sinks", self.exp)
        errs += oracle.check_summary_rows(
            oracle.read_summaries(out / "match_summaries"), self.exp
        )
        errs += oracle.check_unknown_codes(self.unknown, self.exp)
        n_kills = self.exp["sinks"]["kills"]["rows"]
        n_unknown = sum(self.exp["unknown_codes"].values())
        if tuple(self.enriched) != (n_kills, n_unknown):
            errs.append(f"enriched kills {tuple(self.enriched)} want {(n_kills, n_unknown)}")
        files = [f for f in (out / "sinks").rglob("*.parquet")]
        self.obs = {
            "route.files": len(files),
            "route.bytes": sum(f.stat().st_size for f in files),
            "parse.error_rows": sinks.get("errors", {}).get("rows", 0),
            "enrich.unknown_codes": len(self.unknown),
            **{f"route.rows.{s}": v["rows"] for s, v in sinks.items()},
        }
        return errs


class ResumePartial(Workload):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.ckpt, self.out = self.work / "checkpoint", self.work / "resume_out"

    def prepare(self, rep: int) -> None:
        # restore the pre-seeded state: 12 of 16 units committed, no output
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)
        self.ckpt.mkdir(parents=True)
        shutil.copy(self.checkpoint, self.ckpt / "part-seeded.parquet")

    def run(self, rep: int) -> None:
        from gen import CHECKPOINT_UNITS
        from quake3_log_analyser_spark.plans.checkpoint import run_resumable
        from quake3_log_analyser_spark.sources.transcripts import load_transcripts

        self.run_id = f"rep-{rep}"
        with self.span("load_transcripts", "plan"):
            t = load_transcripts(self.spark, str(self.data))
        with self.span("run_resumable", "action"):
            self.units = run_resumable(
                self.spark, t, str(self.out), str(self.ckpt),
                run_id=self.run_id, n_units=CHECKPOINT_UNITS,
            )

    def check(self, rep: int) -> list[str]:
        import oracle

        want = [f"convhash={u}" for u in self.pending]
        errs = [] if self.units == want else [f"units {self.units} want {want}"]
        more, ck = oracle.check_resume(
            self.out / "summaries", self.ckpt, self.run_id, self.pending, self.exp
        )
        self.obs = {
            "checkpoint.pending_rows": sum(v[0] for v in ck.values()),
            "parse.error_rows": sum(v[1] for v in ck.values()),
        }
        return errs + more

    def noop_resume(self) -> dict:
        """A resume once every unit is committed must be a no-op."""
        from gen import CHECKPOINT_UNITS
        from quake3_log_analyser_spark.plans.checkpoint import run_resumable
        from quake3_log_analyser_spark.sources.transcripts import load_transcripts

        self.span.rep = "noop"
        t = load_transcripts(self.spark, str(self.data))
        t0 = time.perf_counter()
        with self.span("noop_resume", "action"):
            left = run_resumable(
                self.spark, t, str(self.out), str(self.ckpt),
                run_id="noop", n_units=CHECKPOINT_UNITS,
            )
        ok = not left
        return {"tag": "noop", "s": time.perf_counter() - t0, "ok": ok, "warm": True,
                "errors": [] if ok else [f"no-op resume processed {left}"], "obs": {}}


WORKLOADS = {
    "kills_summary": KillsSummary,
    "nightly_job": NightlyJob,
}


def _loop(wl: Workload, tag: str, seconds: float, warmup: int,
          min_reps: int = MIN_REPS) -> list[dict]:
    """``warmup`` reps, then measured reps until ``min_reps`` of them have
    run and ``seconds`` have passed since the warm-up ended."""
    reps: list[dict] = []
    t_end = time.perf_counter() + seconds
    for k in range(warmup + 50):
        label = f"{tag}{k}"
        wl.span.rep = label
        wl.spark.sparkContext.setLocalProperty("perfbench.rep", label)
        wl.prepare(k)
        wl.obs = {}
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            wl.run(k)
            dt, c1 = time.perf_counter() - t0, cpu_ticks()
            bad = wl.check(k)
        except Exception:  # a failed rep is counted, not fatal
            dt, c1 = time.perf_counter() - t0, cpu_ticks()
            bad = [traceback.format_exc(limit=4)]
        cpu, jit = cpu_s(c0, c1)
        reps.append({
            "tag": label, "s": dt, "cpu_s": cpu, "jit_s": jit, "ok": not bad,
            "warm": k >= warmup, "errors": bad[:3], "obs": wl.obs,
        })
        if k + 1 == warmup:
            t_end = time.perf_counter() + seconds
        elif k + 1 >= warmup + min_reps and time.perf_counter() >= t_end:
            break
    wl.spark.sparkContext.setLocalProperty("perfbench.rep", None)
    return reps


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return kids + [d for k in kids for d in _descendants(k)]


def _ticks(stat: Path, children: bool = True) -> int:
    """utime + stime, and with ``children`` cutime + cstime (fields 14-17
    of a stat file; a thread's stat repeats its process's cutime)."""
    try:
        fields = stat.read_text().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return sum(int(f) for f in fields[11:15 if children else 13])


def cpu_ticks() -> tuple[int, dict[Path, int]]:
    """Clock ticks used so far by this process, the JVM and the Python
    workers (exited workers count through their parent's cutime), and
    those of each HotSpot JIT compiler thread among them."""
    total, jit = 0, {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        total += _ticks(Path(f"/proc/{pid}/stat"))
        for task in Path(f"/proc/{pid}/task").glob("*"):
            try:
                name = (task / "comm").read_text()
            except OSError:
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit[task] = _ticks(task / "stat", children=False)
    return total, jit


def cpu_s(before: tuple[int, dict], after: tuple[int, dict]) -> tuple[float, float]:
    """CPU seconds between two ``cpu_ticks`` snapshots, and the part of
    them the JIT compiler threads used.  A compiler thread that exits in
    between takes its share with it (HotSpot retires idle ones), so that
    share is not split out.  Time the hypervisor steals from a vCPU is in
    neither, so on a shared host these repeat far better than wall time."""
    jit = sum(t - before[1].get(k, 0) for k, t in after[1].items())
    hz = os.sysconf("SC_CLK_TCK")
    return (after[0] - before[0]) / hz, jit / hz


def peak_rss_mb() -> float:
    """Summed VmHWM of every process below this one: the JVM and the
    Python workers it started."""
    return sum(_vm_hwm_kb(p) for p in _descendants(os.getpid())) / 1024.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--data", type=Path, required=True)
    ap.add_argument("--expected", type=Path, required=True)
    ap.add_argument("--checkpoint", type=Path, required=True)
    ap.add_argument("--pending", required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--result", type=Path, required=True)
    ap.add_argument("--spawned-at", type=float, required=True,
                    help="time.monotonic() in the parent just before the spawn")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--eventlog", type=Path, default=None)
    args = ap.parse_args()

    from quake3_log_analyser_spark.session import get_spark

    from pyspark.sql import SparkSession

    base = {"spark.sql.warehouse.dir": str(args.work / "warehouse")}
    spark = get_spark("perfbench", cpus=args.cpus, extra_conf=base)
    result: dict = {
        "setup_s": time.monotonic() - args.spawned_at,
        "setup_cpu_s": cpu_ticks()[0] / os.sysconf("SC_CLK_TCK"),
    }
    try:
        _sessions(spark, base, args, result)
    finally:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        args.result.write_text(json.dumps(result))


def _sessions(spark, base: dict, args, out: dict) -> None:
    from quake3_log_analyser_spark.session import get_spark

    spans = Spans()
    inputs = (
        args.data, args.work, json.loads(args.expected.read_text()), spans,
        args.checkpoint, [int(u) for u in args.pending.split(",")],
    )
    wl = WORKLOADS[args.workload](spark, *inputs)
    # rep 0 is the first run; reps 1 and 2 still pay JIT warm-up
    out["untraced"] = _loop(wl, "u", args.seconds, warmup=3)
    out["peak_rss_mb"] = peak_rss_mb()
    if args.eventlog is not None:
        share = args.seconds / 3
        spark.stop()
        args.eventlog.mkdir(parents=True, exist_ok=True)
        wl.spark = spark = get_spark("perfbench-traced", cpus=args.cpus, extra_conf={
            **base,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": args.eventlog.resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        spans.enabled = True
        out["traced"] = _loop(wl, "t", share, warmup=1)
        if args.workload == "kills_summary":  # the same table, resumable plan
            resume = ResumePartial(spark, *inputs)
            out["resume"] = _loop(resume, "r", share, warmup=1, min_reps=2)
            out["noop"] = resume.noop_resume()
        spans.enabled = False
        out["spans"] = spans.records
        if args.workload == "kills_summary":  # the scaling pair
            spark.stop()
            wl.spark = spark = get_spark("perfbench-1core", cpus=1, extra_conf=base)
            out["one_core"] = _loop(wl, "s", share, warmup=1, min_reps=2)


if __name__ == "__main__":
    main()
