"""Idempotent resume + per-partition lineage/metrics (north_rule).

The reference is a one-shot CLI with no restart story; at 10^12-turn scale
a run must be resumable and auditable.  Design:

* **Work units** are ``conv_id``-hash buckets.  A run processes only units
  absent from the checkpoint table — in ONE job: the pending units are a
  pushed-down filter on the source scan, the summaries write is a dynamic
  ``partitionBy(convhash)`` overwrite (re-running a unit replaces exactly
  its partition, so re-runs never double-write), and per-unit metrics ride
  the SAME pass via ``df.observe`` (a CollectMetrics node between
  sessionize and the aggregation — zero extra scans, the ``--debug`` tap
  of dal/src/sync_reader.rs:62-67 made distributed).
* **Lineage + metrics**: one checkpoint row per (run_id, unit) with input
  rows, parse errors, matches completed, and wall time — appended AFTER
  the partitioned write commits (write-ahead ordering: sinks first, then
  the checkpoint rows; a crash between the two re-processes those units
  into overwritten partitions, which is idempotent).
* **Pins**: a checkpoint resumes only under the op menu and the unit
  count it was committed with.  The menu rides as an ``ops=...`` marker
  row, the unit count as the nullable ``n_units`` column of every row a
  run writes; rows without it (written before the column existed) pin
  nothing.

Scale note: n_units bounds the observe expression count (3 per unit) and
the partition count of the output — hundreds are fine, and each pending
unit costs ZERO extra source scans (contrast: the round-1 design ran one
full-scan job per unit).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..session import local_table
from .pipeline import check_ops

# ---------------------------------------------------------------------------
# --verbose log-and-continue issue tier
# ---------------------------------------------------------------------------


def observe_issues(df: DataFrame, name: str = "log_issues"):
    """The reference's ``--verbose`` tier (app/src/main.rs:82-99 builds
    ``log_issues`` configs on every BLL/DAL stage): LOG per-kind issue
    counts and CONTINUE — the complement of the three stop gates
    (stop_on_violations / stop_on_feed_errors / stop_on_errors).

    Implemented as ONE ``df.observe`` CollectMetrics node riding whatever
    job the caller runs anyway — zero extra scans at any scale.  Counts one
    metric per parse-error kind (schemas.ERROR_KINDS) and per event-model
    violation kind (DoubleInit / GameNotStarted); kinds whose column is
    absent from ``df`` (narrowed parse, pre-sessionize frame) are skipped.

    Returns ``(df_with_observation, observation)``; call
    ``issue_counts(observation)`` AFTER the first action on the returned
    frame.
    """
    from ..operators.sessionize import V_DOUBLE_INIT, V_GAME_NOT_STARTED
    from ..schemas import ERROR_KINDS

    obs = Observation(name)
    exprs = []
    if "parse_error_kind" in df.columns:
        for k in ERROR_KINDS:
            exprs.append(
                F.sum((F.col("parse_error_kind") == k).cast("long")).alias(
                    f"parse_error/{k}"
                )
            )
    if "violation" in df.columns:
        for k in (V_DOUBLE_INIT, V_GAME_NOT_STARTED):
            exprs.append(
                F.sum((F.col("violation") == k).cast("long")).alias(
                    f"violation/{k}"
                )
            )
    if not exprs:
        raise ValueError(
            "observe_issues needs a parse_error_kind and/or violation "
            f"column; got {df.columns}"
        )
    return df.observe(obs, *exprs), obs


def issue_counts(obs: Observation) -> dict[str, int]:
    """Non-zero per-kind issue counts from an ``observe_issues`` run."""
    return {k: int(v) for k, v in obs.get.items() if v}


def _ops_marker(ops) -> str:
    return "ops=" + ",".join(sorted(ops))


def _check_pin(what: str, prior: set, wanted, where: str) -> None:
    """A checkpoint written under one op menu or unit count must not be
    resumed under another: a unit is ``pmod(xxhash64(conv_id), n_units)``
    and is skipped by name, so a changed menu would silently mix kills-only
    and multi-op rows partition-by-partition in the same summaries table,
    and a changed unit count would summarize conversations a second time
    under new ``convhash`` partitions.  A mismatch is an error, not a
    merge; a checkpoint that recorded no value pins nothing."""
    if prior and prior != {wanted}:
        raise ValueError(
            f"checkpoint {where} was committed with {what} {sorted(prior)} "
            f"but this run requests {wanted!r}; resuming would mix {what}s "
            f"in one summaries table — use a fresh checkpoint/output or the "
            f"original {what}"
        )


def _committed_rows(spark: SparkSession, checkpoint_path: str) -> list:
    """Distinct ``(unit, n_units)`` rows of the checkpoint table.  The
    footers of all its files are merged, so rows of files written before
    ``n_units`` existed read it as null.  Nothing is committed while the
    table has no data files: the path does not exist yet, or a crash
    during the first append left only ``_temporary/``.  Any other read
    failure raises — a corrupt checkpoint read as empty would reprocess
    every unit and skip the pin checks."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    # Spark's file index skips names starting with "_" or "."
    if not fs.exists(path) or all(
        s.getPath().getName().startswith(("_", ".")) for s in fs.listStatus(path)
    ):
        return []
    ck = spark.read.option("mergeSchema", True).parquet(checkpoint_path)
    n_units = ck["n_units"] if "n_units" in ck.columns else F.lit(None)
    return ck.select("unit", n_units.alias("n_units")).distinct().collect()


def committed_units(spark: SparkSession, checkpoint_path: str) -> set[str]:
    """Units (and markers) in the checkpoint table."""
    return {r["unit"] for r in _committed_rows(spark, checkpoint_path)}


def _metrics_df(
    spark: SparkSession,
    run_id: str,
    metrics_by_unit: dict[str, dict],
    n_units: int,
) -> DataFrame:
    rows = [
        (
            run_id,
            unit,
            int(m.get("n_input_rows", 0)),
            int(m.get("n_parse_errors", 0)),
            int(m.get("n_matches", 0)),
            float(m.get("wall_sec", 0.0)),
            n_units,
        )
        for unit, m in metrics_by_unit.items()
    ]
    return local_table(
        spark,
        rows,
        "run_id string, unit string, n_input_rows long, n_parse_errors long, "
        "n_matches long, wall_sec double, n_units int",
    ).withColumn("committed_at", F.current_timestamp())


def commit_units(
    spark: SparkSession,
    checkpoint_path: str,
    run_id: str,
    metrics_by_unit: dict[str, dict],
    n_units: int,
) -> None:
    """Append one lineage/metrics row per unit (one atomic-ish write),
    each recording the run's unit count."""
    _metrics_df(spark, run_id, metrics_by_unit, n_units).write.mode(
        "append"
    ).parquet(checkpoint_path)


def _build_unit_run(
    transcripts: DataFrame,
    pending: list[int],
    n_units: int,
    pedantic: bool = False,
    ops: frozenset[str] | set[str] = frozenset({"kills"}),
    stop_on_violations: bool = False,
):
    """Shared single-pass core: pending-unit filter -> parse -> sessionize
    (with per-unit observe metrics) -> summaries re-keyed by convhash.
    Returns (summaries_df, observation).  ``pedantic=True`` makes the
    (arrow) parse task raise on the first malformed line — the unit's
    partition write then fails before committing anything.  ``ops``
    selects the summary menu: order-insensitive menus take the one-pass
    vectorized aggregation (``summarize_multi``); a menu with
    ``player_resolutions`` takes the exact replay fold stage
    (``summarize_extended``) over the parsed rows, whose conv_id shuffle
    co-partitions with the unit hash; ``stop_on_violations`` reaches that
    fold exactly as it does from ``summarize_matches``."""
    from ..operators.parse import parse_transcripts
    from ..operators.sessionize import sessionize
    from ..operators.summarize import summarize_extended, summarize_multi

    unit_col = F.pmod(F.xxhash64("conv_id"), F.lit(n_units)).cast("int")
    part = transcripts.withColumn("convhash", unit_col).filter(
        F.col("convhash").isin(pending)
    )
    sess = sessionize(parse_transcripts(part, pedantic=pedantic))

    obs = Observation("checkpoint_metrics")
    exprs = []
    for u in pending:
        in_u = F.col("convhash") == u
        exprs += [
            F.sum(in_u.cast("long")).alias(f"rows_{u}"),
            F.sum((in_u & F.col("parse_error_kind").isNotNull()).cast("long")).alias(
                f"errs_{u}"
            ),
            F.sum((in_u & F.col("is_match_end")).cast("long")).alias(f"matches_{u}"),
        ]
    sess = sess.observe(obs, *exprs)

    if "player_resolutions" in ops:
        summaries = summarize_extended(sess, ops, stop_on_violations)
    else:
        summaries = summarize_multi(sess, ops)
    # summarize drops the passthrough columns via aggregation; the unit is
    # a pure function of conv_id, so re-derive it for the partitioned write
    summaries = summaries.withColumn(
        "convhash", F.pmod(F.xxhash64("conv_id"), F.lit(n_units)).cast("int")
    )
    return summaries, obs


def _unit_metrics(obs: Observation, pending: list[int], wall: float) -> dict:
    vals = obs.get  # blocks on the triggering action; one scan total
    return {
        f"convhash={u}": {
            "n_input_rows": vals[f"rows_{u}"] or 0,
            "n_parse_errors": vals[f"errs_{u}"] or 0,
            "n_matches": vals[f"matches_{u}"] or 0,
            # single-pass: per-unit wall time is not separable; record the
            # job wall on every unit row (the lineage question it answers
            # is "when/with what run did this unit commit")
            "wall_sec": wall,
        }
        for u in pending
    }


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_base: str,
    checkpoint_path: str,
    run_id: str,
    n_units: int = 16,
    pedantic: bool = False,
    ops: frozenset[str] | set[str] = frozenset({"kills"}),
    stop_on_violations: bool = False,
) -> list[str]:
    """Process the table's uncommitted conv_id-hash units in ONE pass.

    Returns the list of units processed in this invocation.  Calling it a
    second time on the same inputs is a no-op (idempotent resume); killing
    it between the data write and the checkpoint append re-runs only the
    un-committed units, whose partitions are dynamically overwritten.
    ``ops`` selects the summary menu (previously the resumable path always
    computed kills-only, silently ignoring the CLI's --ops under
    --resume).  ``stop_on_violations`` has ``summarize_matches``'s meaning.
    An invalid menu or ``n_units < 1`` raises before the checkpoint is read.
    """
    ops = check_ops(ops)
    if n_units < 1:
        raise ValueError(f"n_units must be >= 1, got {n_units}")
    rows = _committed_rows(spark, checkpoint_path)
    done = {r["unit"] for r in rows}
    _check_pin(
        "op menu", {u for u in done if u.startswith("ops=")},
        _ops_marker(ops), checkpoint_path,
    )
    _check_pin(
        "unit count", {r["n_units"] for r in rows if r["n_units"] is not None},
        n_units, checkpoint_path,
    )
    pending = [u for u in range(n_units) if f"convhash={u}" not in done]
    if not pending:
        return []

    t0 = time.perf_counter()
    summaries, obs = _build_unit_run(
        transcripts, pending, n_units, pedantic, ops, stop_on_violations
    )
    (
        summaries.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("convhash")
        .parquet(f"{out_base}/summaries")
    )
    metrics = _unit_metrics(obs, pending, time.perf_counter() - t0)
    if _ops_marker(ops) not in done:
        metrics[_ops_marker(ops)] = {}
    commit_units(spark, checkpoint_path, run_id, metrics, n_units)
    return [f"convhash={u}" for u in pending]
