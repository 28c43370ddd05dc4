"""One scaling measurement: run the headline pipeline at a given core count
on a given transcripts parquet.  Prints one JSON line.

Usage: python scripts/scaling_worker.py <cpus> <transcripts_path> [reps] [mode]
         [n_buckets] [max_partition_mb]

mode:
  adhoc     (default) plain parquet scan -> parse -> shuffle+sort window
  bucketed  conv_id-bucketed (conv_id, turn_idx)-sorted table ->
            session-first raw window with NO shuffle and NO sort — the
            plan a 10^12-turn Iceberg deployment would run

n_buckets (bucketed mode, default 64) and max_partition_mb (default 64)
parameterize the round-5 closing matrix on the 4->16 pair.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def ensure_bucketed(spark, tpath: str, n_buckets: int = 32) -> str:
    """Bucketed + sorted twin of the transcripts table: the sessionize
    window reads it with NO shuffle and NO sort (SURVEY.md §4 scale lever).

    ``repartition(n_buckets, "conv_id")`` before the write gives one file
    per bucket, which ``spark.sql.legacy.bucketedTableScan.outputOrdering``
    needs to skip the window sort.  Location and table name carry
    ``n_buckets`` so differently-bucketed twins of the same table never
    register a DDL whose bucket count contradicts the files."""
    from quake3_log_analyser_spark.schemas import TRANSCRIPT_SCHEMA

    suffix = f"_bucketed{n_buckets}"
    loc = tpath + suffix
    tbl = f"bench_transcripts{suffix}"
    ddl_cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in TRANSCRIPT_SCHEMA)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not (Path(loc) / "_SUCCESS").exists():
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(tpath)
        (
            df.repartition(n_buckets, "conv_id")
            .write.mode("overwrite")
            .bucketBy(n_buckets, "conv_id")
            .sortBy("conv_id", "turn_idx")
            .option("path", loc)
            .saveAsTable(tbl)
        )
    else:
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl_cols}) USING parquet "
            f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
    return tbl


def main():
    cpus = int(sys.argv[1])
    tpath = sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    mode = sys.argv[4] if len(sys.argv) > 4 else "adhoc"
    n_buckets = int(sys.argv[5]) if len(sys.argv) > 5 else 64
    max_partition_mb = int(sys.argv[6]) if len(sys.argv) > 6 else 64

    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.plans.pipeline import summarize_matches
    from quake3_log_analyser_spark.schemas import TRANSCRIPT_SCHEMA
    from quake3_log_analyser_spark.session import get_spark

    # 64 MB splits: the bench table is many ~9 MB files and the default
    # 128 MB split packs them into fewer tasks than cores (measured 2x
    # slower at 16 cores); 64 MB keeps every core in work at all measured
    # core counts without per-task overhead dominating
    spark = get_spark(
        "scaling", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(
                max_partition_mb * 1024 * 1024
            )
        },
    )
    if mode == "bucketed":
        tbl = ensure_bucketed(spark, tpath, n_buckets=n_buckets)
        t = spark.table(tbl)
    else:
        t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(tpath)
    n_turns = t.count()

    def run():
        return (
            summarize_matches(t, ops={"kills"}, session_first=(mode == "bucketed"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("total_kills"))
            .collect()[0]["n"]
        )

    # TWO warm runs: the first pays codegen + python-worker spawn, but this
    # virtualized box needs a second before timings stabilize (measured:
    # rep1 after a single warm-up can still be 4x the steady state)
    run()
    run()
    best = min(
        (lambda t0=time.perf_counter(): (run(), time.perf_counter() - t0)[1])()
        for _ in range(reps)
    )
    print(
        json.dumps(
            {
                "cpus": cpus,
                "mode": mode,
                "seconds": round(best, 3),
                "n_turns": n_turns,
                "turns_per_sec": round(n_turns / best),
            }
        )
    )


if __name__ == "__main__":
    main()
