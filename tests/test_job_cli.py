"""jobs/run_pipeline.py driven in process: ``main()`` under a patched argv
in the test session, on a tiny inline table.  Covers the plain path and
the ``--resume`` path without a spark-submit JVM (tests/test_submit.py
keeps the real launch under test)."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

from quake3_log_analyser_spark.plans.pipeline import (
    full_pipeline_ops,
    summarize_matches,
)
from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

JOB = Path(__file__).resolve().parents[1] / "jobs" / "run_pipeline.py"

LINES = {
    "c0": [
        r" 0:00 InitGame: \fraglimit\20\timelimit\15",
        " 0:01 ClientConnect: 2",
        r" 0:01 ClientUserinfoChanged: 2 n\A\t\0\model\sarge",
        " 0:02 Kill: 2 3 7: B killed C by MOD_ROCKET",
        " 0:03 ShutdownGame:",
    ],
    "c1": [
        r" 0:00 InitGame: \fraglimit\20\timelimit\15",
        " 0:01 Kill: 1022 2 22: <world> killed D by MOD_TRIGGER_HURT",
        " 0:02 Kill: 3 2 10: E killed D by MOD_RAILGUN",
        " 0:03 ShutdownGame:",
    ],
}


def _norm(rows):
    keyed = [
        (
            r["conv_id"], r["match_id"], r["total_kills"],
            tuple((k["player"], k["frags"]) for k in (r["kills"] or [])),
            r["error"],
        )
        for r in rows
    ]
    return sorted(keyed, key=repr)  # violation rows carry NULL counts


def test_run_pipeline_main_plain_and_resume(spark, tmp_path, monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location("run_pipeline_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    t = None
    for conv, lines in LINES.items():
        part = transcripts_from_lines(spark, lines, conv)
        t = part if t is None else t.unionByName(part)
    inp = str(tmp_path / "transcripts")
    t.write.parquet(inp)
    t = spark.read.parquet(inp)
    out = tmp_path / "out"
    base = [
        "run_pipeline.py", "--input", inp, "--output", str(out),
        "--checkpoint", str(tmp_path / "ck"),
    ]

    def run(*extra):
        monkeypatch.setattr(sys, "argv", base + list(extra))
        job.main()
        return capsys.readouterr().out

    printed = run("--run-id", "plain")
    assert len([ln for ln in printed.splitlines() if "elapsed_s=" in ln]) == 1
    assert {p.name for p in (out / "sinks").iterdir() if p.is_dir()} >= {
        "sink=kills", "sink=match_control",
    }
    got = spark.read.parquet(str(out / "match_summaries")).collect()
    assert _norm(got) == _norm(summarize_matches(t).collect())

    full = ",".join(sorted(full_pipeline_ops()))
    resume = ["--resume", "--ops", full, "--n-units", "2"]
    printed = run(*resume, "--stop-on-violations", "--run-id", "r1")
    assert "processed units ['convhash=0', 'convhash=1']" in printed
    assert len([ln for ln in printed.splitlines() if "elapsed_s=" in ln]) == 1
    want = _norm(
        summarize_matches(t, full_pipeline_ops(), stop_on_violations=True).collect()
    )
    assert any("DiscrepantPlayerName" in (r[-1] or "") for r in want)
    summaries = str(out / "summaries")
    got = _norm(spark.read.parquet(summaries).drop("convhash").collect())
    assert got == want

    printed = run(*resume, "--stop-on-violations", "--run-id", "r2")
    assert "processed units []" in printed
    assert _norm(spark.read.parquet(summaries).drop("convhash").collect()) == want
