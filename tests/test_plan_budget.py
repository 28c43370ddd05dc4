"""The driver-side cost of building the kills plan, in py4j calls.

With its Column trees built on every call, a warm
``summarize_matches(t, ops={"kills"})`` took 6,638 py4j calls on its
thread (7,432 with means and scores), 1.3-1.8 s of a warm kills rep on a
4-core host.  With the trees built once per JVM (functions/column_cache.py)
it takes 378 (386).  A plan over the budget is a performance regression
even when its results are right.

Only the calls of the building thread count: py4j's finalizer thread
deletes garbage-collected JVM references on its own connection whenever
Python's collector runs, which is noise here.
"""

from __future__ import annotations

import threading

import py4j.clientserver
import pytest

BUDGET = 500


@pytest.mark.parametrize(
    "ops",
    [{"kills"}, {"kills", "means_of_death", "reported_scores"}],
    ids=["kills", "kills_means_scores"],
)
def test_warm_plan_build_stays_within_py4j_budget(spark, monkeypatch, ops):
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = generate_transcripts(spark, n_convs=4, turns_per_conv=24)
    summarize_matches(t, ops=ops)  # the first build fills the Column cache

    build_thread = threading.get_ident()
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == build_thread:
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    summarize_matches(t, ops=ops)
    monkeypatch.undo()
    assert len(calls) <= BUDGET, (
        f"building the {sorted(ops)} plan took {len(calls)} py4j calls "
        f"(budget {BUDGET})"
    )
