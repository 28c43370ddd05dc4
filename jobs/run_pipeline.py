"""Production job entry — ``spark-submit --py-files`` launcher.

    zip -r pipeline.zip quake3_log_analyser_spark/
    eval "$(python3 -c 'from quake3_log_analyser_spark.session import submit_env; print(submit_env())')"
    spark-submit \
        --driver-memory "$(python3 -c 'from quake3_log_analyser_spark.session import driver_memory; print(driver_memory())')" \
        --driver-java-options "-XX:+UseParallelGC -XX:MetaspaceSize=256m -XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=400000 $ARCHIVE_OPTS" \
        --py-files pipeline.zip jobs/run_pipeline.py \
        --input  <transcripts parquet path or Iceberg table> \
        --output <output base path> \
        --ops kills,means_of_death,player_resolutions,reported_scores \
        --run-id nightly-2024-06-01 \
        [--resume --checkpoint <checkpoint table path> --n-units 64]

The two paths write different outputs:

* plain: parse -> sessionize -> route, writing the five sinks to
  ``{output}/sinks/sink=*``, then the match summaries to
  ``{output}/match_summaries``.  It writes no checkpoint.
* ``--resume`` (needs ``--checkpoint``): summarizes only the conv_id-hash
  units the checkpoint table has not committed, into
  ``{output}/summaries/convhash=*``, and appends one lineage/metrics row
  per unit to the checkpoint (idempotent restart).  It writes no sinks.

Under spark-submit the session factory detects the submitted
``spark.master`` and builds on it (session.py::_submitted_master), so the
SAME entrypoint runs local[N] smoke tests and N-executor clusters.  The
driver JVM is already running by then, so the driver's heap and JVM
options come from the submit command: ``session.DRIVER_JAVA_OPTS`` as
``--driver-java-options`` and ``session.driver_memory()`` as
``--driver-memory``, the values a plain-Python launch gets.  To these the
command adds the class archive's options, which ``session.submit_env()``
prints for the shell to ``eval``: a submitted driver maps the archive a
plain-Python run of this job dumped in the same local dir, with the
empty ``SPARK_CONF_DIR`` it was dumped with, and never dumps one itself.
So a submit-only deployment gains only after one plain-Python run
(``python3 jobs/run_pipeline.py ...``) following each install, upgrade
or, with the default tmpfs local dir, reboot.

Every run ends with one ``elapsed_s=... master=... parallelism=...
setup_s=... class_archive=...`` line: the work time (JVM/session startup
excluded), the cluster it ran on, the wall time from the start of the
job's first process (the driver JVM under spark-submit) to a ready
session, and whether the driver JVM ``mapped`` its classes from the
archive, ``dumped`` one at exit (the job waits for that, so the JVM has
exited before the job does) or ran with ``none``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _since_process_start() -> float:
    """Wall seconds since the job's first process started (``/proc``, 10 ms
    ticks): this one, or under spark-submit its parent, the driver JVM,
    which starts this Python only once the JVM is up."""
    pid = os.getppid() if "PYSPARK_GATEWAY_PORT" in os.environ else os.getpid()
    with open(f"/proc/{pid}/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start / os.sysconf("SC_CLK_TCK")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", help="checkpoint table; --resume only")
    ap.add_argument("--ops", default="kills")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--resume", action="store_true")
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
    if args.resume and not args.checkpoint:
        ap.error("--resume needs --checkpoint")

    from pyspark.sql import SparkSession

    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.route import write_sinks
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable
    from quake3_log_analyser_spark.plans.pipeline import (
        check_ops,
        summarize_matches,
    )
    from quake3_log_analyser_spark.session import (
        class_archive_state,
        get_spark,
        stop_spark,
    )
    from quake3_log_analyser_spark.sources.transcripts import load_transcripts

    # reject a bad op menu before any session, read or write
    ops = check_ops(args.ops.split(","))
    active = SparkSession.getActiveSession()
    spark = active or get_spark("transcript-pipeline")
    setup_s = _since_process_start()
    transcripts = load_transcripts(spark, args.input)
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
            # surface the rows of the units this invocation processed, not
            # the ops marker or units an earlier invocation committed
            ck = spark.read.parquet(args.checkpoint)
            rows = {
                r["unit"]: r
                for r in ck.filter(
                    (ck.run_id == args.run_id) & ck.unit.isin(units)
                ).collect()
            }
            for unit in units:
                r = rows[unit]
                print(
                    f"log_issues {unit}: rows={r['n_input_rows']} "
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
        )
        summaries.write.mode("overwrite").parquet(
            f"{args.output}/match_summaries"
        )
        print(f"run {args.run_id}: sinks={list(paths)} + match_summaries")
        if obs is not None:
            for kind, n in sorted(issue_counts(obs).items()):
                print(f"log_issues {kind}: {n}")
    line = (
        f"elapsed_s={time.perf_counter() - t_work0:.3f} "
        f"master={spark.sparkContext.master} "
        f"parallelism={spark.sparkContext.defaultParallelism} "
        f"setup_s={setup_s:.3f}"
    )
    # a session the job started ends here, so a dump at JVM exit is done
    # (and reported) before the job exits
    archive = class_archive_state(spark) if active else stop_spark(spark)
    print(f"{line} class_archive={archive}")


if __name__ == "__main__":
    main()
