"""Production job entry — ``spark-submit --py-files`` launcher.

    zip -r pipeline.zip quake3_log_analyser_spark/
    spark-submit --py-files pipeline.zip jobs/run_pipeline.py \
        --input  <transcripts parquet path or Iceberg table> \
        --output <sink base path> \
        --checkpoint <checkpoint table path> \
        --ops kills,means_of_death,player_resolutions,reported_scores \
        --run-id nightly-2024-06-01 [--resume] [--session-first]

Runs parse -> sessionize -> route (five sinks) -> summaries with
per-partition lineage/metrics committed to the checkpoint table; with
``--resume`` only uncommitted units are processed (idempotent restart).
Under spark-submit the session factory detects the submitted
``spark.master`` and builds on it (session.py::_submitted_master), so the
SAME entrypoint runs local[N] smoke tests and N-executor clusters.  Every
run ends with one ``elapsed_s=... master=... parallelism=...`` line: the
work time (JVM/session startup excluded) and the cluster it ran on.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--ops", default="kills")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--session-first", action="store_true")
    ap.add_argument("--n-units", type=int, default=64)
    ap.add_argument("--stop-on-violations", action="store_true")
    ap.add_argument(
        "--pedantic", action="store_true",
        help="fail on the first malformed line AND on event-model "
        "violations (the reference's --pedantic, app/src/main.rs:84-85)",
    )
    ap.add_argument(
        "--verbose", action="store_true",
        help="log-and-continue tier: print per-kind parse-error and "
        "violation counts (df.observe — zero extra scans)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.route import write_sinks
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches
    from quake3_log_analyser_spark.session import get_spark
    from quake3_log_analyser_spark.sources.transcripts import load_transcripts

    spark = SparkSession.getActiveSession() or get_spark("transcript-pipeline")
    transcripts = load_transcripts(spark, args.input)
    ops = frozenset(args.ops.split(","))
    # --pedantic is the feed gate AND the violations gate, on both paths
    stop_on_violations = args.stop_on_violations or args.pedantic
    t_work0 = time.perf_counter()

    if args.resume:
        units = run_resumable(
            spark, transcripts, args.output, args.checkpoint,
            run_id=args.run_id, n_units=args.n_units,
            pedantic=args.pedantic, ops=ops,
            stop_on_violations=stop_on_violations,
        )
        print(f"resumable run {args.run_id}: processed units {units}")
        if args.verbose and units:
            # the resumable pass already commits per-unit issue metrics —
            # surface the rows this run produced
            ck = spark.read.parquet(args.checkpoint)
            for r in ck.filter(ck.run_id == args.run_id).collect():
                print(
                    f"log_issues {r['unit']}: rows={r['n_input_rows']} "
                    f"parse_errors={r['n_parse_errors']} "
                    f"matches={r['n_matches']}"
                )
    else:
        # pedantic gates the SINKS parse too: the in-task raise fires
        # during the first write job, so no sink output ever commits
        # from a run that must fail on the first malformed line (the
        # reference --pedantic aborts before emitting anything)
        sessionized = sessionize(
            parse_transcripts(transcripts, pedantic=args.pedantic)
        )
        obs = None
        if args.verbose:
            from quake3_log_analyser_spark.plans.checkpoint import (
                issue_counts,
                observe_issues,
            )

            # the issue observation rides the sink-write job
            sessionized, obs = observe_issues(sessionized)
        paths = write_sinks(sessionized, f"{args.output}/sinks")
        summaries = summarize_matches(
            transcripts, ops=ops,
            stop_on_violations=stop_on_violations,
            stop_on_feed_errors=args.pedantic,
            session_first=args.session_first,
        )
        summaries.write.mode("overwrite").parquet(
            f"{args.output}/match_summaries"
        )
        print(f"run {args.run_id}: sinks={list(paths)} + match_summaries")
        if obs is not None:
            for kind, n in sorted(issue_counts(obs).items()):
                print(f"log_issues {kind}: {n}")
    print(
        f"elapsed_s={time.perf_counter() - t_work0:.3f} "
        f"master={spark.sparkContext.master} "
        f"parallelism={spark.sparkContext.defaultParallelism}"
    )


if __name__ == "__main__":
    main()
