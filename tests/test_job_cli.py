"""jobs/run_pipeline.py driven in process: ``main()`` under a patched argv
in the test session, on a tiny inline table.  Covers the plain path and
the ``--resume`` path without a spark-submit JVM (tests/test_submit.py
keeps the real launch under test)."""

from __future__ import annotations

import importlib.util
import re
import sys
from pathlib import Path

import pytest

from quake3_log_analyser_spark.plans.pipeline import (
    full_pipeline_ops,
    summarize_matches,
)
from quake3_log_analyser_spark.session import class_archive_state
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


def _closing_fields(printed: str, spark) -> None:
    """The closing line ends with the set-up time and the state of the
    session's class archive (``mapped|dumped|none``), as the JVM has it."""
    (line,) = [ln for ln in printed.splitlines() if "elapsed_s=" in ln]
    m = re.search(r" setup_s=(\d+\.\d{3}) class_archive=(mapped|dumped|none)$", line)
    assert m, line
    assert float(m.group(1)) > 0
    assert m.group(2) == class_archive_state(spark)


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
    _closing_fields(printed, spark)
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
    _closing_fields(printed, spark)
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


def test_resume_verbose_prints_only_this_invocations_units(
    spark, tmp_path, monkeypatch, capsys
):
    """``--resume --verbose`` prints one ``log_issues`` line per unit this
    invocation processed, in unit order: not the ops marker row, and not
    the units an earlier invocation under the same run id committed."""
    spec = importlib.util.spec_from_file_location("run_pipeline_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    t = None
    for conv, lines in LINES.items():
        part = transcripts_from_lines(spark, lines, conv)
        t = part if t is None else t.unionByName(part)
    inp = str(tmp_path / "transcripts")
    t.write.parquet(inp)

    def run(ck):
        monkeypatch.setattr(sys, "argv", [
            "run_pipeline.py", "--input", inp, "--output", str(tmp_path / "out"),
            "--checkpoint", ck, "--resume", "--verbose", "--n-units", "4",
            "--run-id", "r1",
        ])
        job.main()
        issues = [
            ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("log_issues ")
        ]
        return [ln.split()[1].rstrip(":") for ln in issues], issues

    ck1 = str(tmp_path / "ck1")
    units, issues = run(ck1)
    assert units == [f"convhash={u}" for u in range(4)]
    assert sum(int(ln.split("rows=")[1].split()[0]) for ln in issues) == t.count()

    # drop one unit's row: a second invocation under the same run id
    # re-runs only that unit, and prints only it
    ck = spark.read.parquet(ck1)
    redo = ck.orderBy(ck.n_input_rows.desc()).first()["unit"]
    ck2 = str(tmp_path / "ck2")
    ck.filter(ck.unit != redo).write.parquet(ck2)
    units, issues = run(ck2)
    assert units == [redo]
    assert "rows=0 " not in issues[0]


def test_checkpoint_is_needed_only_with_resume(spark, tmp_path, monkeypatch, capsys):
    """The plain path writes sinks and match summaries and no checkpoint,
    so it runs without ``--checkpoint``; ``--resume`` without one is a
    usage error before any work starts."""
    spec = importlib.util.spec_from_file_location("run_pipeline_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    inp = str(tmp_path / "transcripts")
    transcripts_from_lines(spark, LINES["c0"], "c0").write.parquet(inp)
    out = tmp_path / "out"
    base = ["run_pipeline.py", "--input", inp, "--output", str(out)]

    monkeypatch.setattr(sys, "argv", base + ["--run-id", "plain"])
    job.main()
    assert "elapsed_s=" in capsys.readouterr().out
    assert sorted(p.name for p in out.iterdir() if p.is_dir()) == [
        "match_summaries", "sinks",
    ]

    monkeypatch.setattr(sys, "argv", base + ["--resume"])
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert "--resume needs --checkpoint" in capsys.readouterr().err


def test_unknown_op_is_rejected_before_any_output(spark, tmp_path, monkeypatch):
    """A misspelt op menu fails before the plain path reads or writes
    anything: ``{output}`` is never created."""
    spec = importlib.util.spec_from_file_location("run_pipeline_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    inp = str(tmp_path / "transcripts")
    transcripts_from_lines(spark, LINES["c0"], "c0").write.parquet(inp)
    out = tmp_path / "out"
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--input", inp, "--output", str(out), "--ops", "kils",
    ])
    with pytest.raises(ValueError, match=r"unknown logic ops: \['kils'\]"):
        job.main()
    assert not out.exists()
