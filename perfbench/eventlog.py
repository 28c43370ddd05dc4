"""Per-layer metrics of a traced run, from Spark's event log plus the
wall spans the benchmark recorded around each public call.

Layers are the repository's modules.  SQL metrics are attributed to a
layer by the plan node that owns them:

* ``MapInArrow``                   -> parse (operators/parse.py, arrow)
* ``FlatMapGroupsInPandas``        -> replay (functions/replay.py fold)
* ``Window``, ``Sort`` and the ``Exchange`` feeding them -> sessionize
* ``HashAggregate``/``ObjectHashAggregate`` -> summarize
* ``BroadcastHashJoin``            -> enrich
* ``Scan parquet``                 -> sources

Each SQL execution belongs to the innermost action span whose interval
holds its start time, which gives it a rep tag and a call name.  Values
are computed per measured rep and reported as the median over reps.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

_PASS_THROUGH = {
    "Window", "Sort", "InputAdapter", "AQEShuffleRead", "ShuffleQueryStage",
    "Project", "Filter", "ColumnarToRow",
}


class Node:
    def __init__(self, info: dict) -> None:
        self.name = info["nodeName"].strip()
        self.desc = info["simpleString"]
        self.metrics = {m["name"]: (m["accumulatorId"], m["metricType"]) for m in info["metrics"]}
        self.children = [Node(c) for c in info["children"]]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Execution:
    def __init__(self, eid: int, start_ms: int) -> None:
        self.id, self.start_ms = eid, start_ms
        self.plan: Node | None = None
        self.acc: dict[int, float] = defaultdict(float)
        self.task_acc: dict[int, list[float]] = defaultdict(list)
        self.span: dict | None = None

    def value(self, node: Node, metric: str) -> float:
        """The metric in ms for timings, as summed over tasks otherwise."""
        if metric not in node.metrics:
            return 0.0
        acc, kind = node.metrics[metric]
        v = self.acc.get(acc, 0.0)
        return v / 1e6 if kind == "nsTiming" else v

    def task_max(self, node: Node, metric: str) -> float:
        acc = node.metrics.get(metric, (None,))[0]
        return max(self.task_acc.get(acc, [0.0]))

    def nodes(self, *names: str):
        return [n for n in self.plan.walk() if n.name in names] if self.plan else []


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_eventlog(path: Path):
    """Executions (with plans and summed accumulator updates) and tasks."""
    execs: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    tasks = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerSQLExecutionStart":
                ex = execs[e["executionId"]] = Execution(e["executionId"], e["time"])
                ex.plan = Node(e["sparkPlanInfo"])
            elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                execs[e["executionId"]].plan = Node(e["sparkPlanInfo"])
            elif kind == "SparkListenerDriverAccumUpdates":
                ex = execs.get(e["executionId"])
                for acc, v in e["accumUpdates"] if ex else ():
                    ex.acc[acc] += _num(v)
            elif kind == "SparkListenerJobStart":
                eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if eid is not None:
                    for s in e["Stage IDs"]:
                        stage_exec[s] = int(eid)
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                ex = execs.get(stage_exec.get(e["Stage ID"], -1))
                tm = e.get("Task Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "exec": ex.id if ex else None,
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                    "accs": {a["ID"] for a in info.get("Accumulables", [])},
                })
                if ex is None:
                    continue
                for a in info.get("Accumulables", []):
                    v = _num(a.get("Update"))
                    ex.acc[a["ID"]] += v
                    ex.task_acc[a["ID"]].append(v)
    return list(execs.values()), tasks


def _attach_spans(execs: list[Execution], spans: list[dict]) -> None:
    actions = [s for s in spans if s["kind"] == "action"]
    for ex in execs:
        t = ex.start_ms / 1000.0
        inside = [s for s in actions if s["start"] <= t <= s["end"]]
        # innermost = latest start among the enclosing spans
        ex.span = max(inside, key=lambda s: s["start"]) if inside else None


def _sessionize_chain(node: Node):
    """Nodes under a Window reached through pass-through operators, up to
    and including the first Exchange on each path (the sessionize
    shuffle); the Sort feeding the Window is among them."""
    for c in node.children:
        yield c
        if c.name in _PASS_THROUGH or c.name.startswith("WholeStageCodegen"):
            yield from _sessionize_chain(c)


def _scan_child(node: Node) -> Node | None:
    for c in node.children:
        if c.name == "Scan parquet":
            return c
        if c.name in ("ColumnarToRow", "InputAdapter") or c.name.startswith("WholeStageCodegen"):
            found = _scan_child(c)
            if found is not None:
                return found
    return None


def _first_rows(node: Node, ex: Execution) -> float:
    """Rows entering ``node``: the output-row count of the nearest
    descendant that reports one."""
    for c in node.children:
        if "number of output rows" in c.metrics:
            return ex.value(c, "number of output rows")
        r = _first_rows(c, ex)
        if r:
            return r
    return 0.0


def rep_layers(execs: list[Execution], tasks: list[dict], spans: list[dict], rep: str) -> dict:
    """Layer metrics of one rep (every execution whose span has ``rep``)."""
    mine = [ex for ex in execs if ex.span and ex.span["rep"] == rep]
    ids = {ex.id for ex in mine}
    my_tasks = [t for t in tasks if t["exec"] in ids]
    m: dict[str, float] = defaultdict(float)

    scan_rows = kept = 0.0
    agg_in = agg_out = 0.0
    sess_accs: set[int] = set()
    for ex in mine:
        call = ex.span["name"]
        for n in ex.nodes("Scan parquet"):
            m["sources.scan_ms"] += ex.value(n, "scan time")
            m["sources.rows"] += ex.value(n, "number of output rows")
            m["sources.bytes"] += ex.value(n, "size of files read")
        for n in ex.nodes("Filter"):
            scan = _scan_child(n)
            if scan is not None and "text" in n.desc.split("Filter", 1)[1]:
                scan_rows += ex.value(scan, "number of output rows")
                kept += ex.value(n, "number of output rows")
        for n in ex.nodes("MapInArrow"):
            m["parse.python_ms"] += ex.value(n, "time to run Python workers")
            m["parse.python_start_ms"] += ex.value(n, "time to start Python workers")
            m["parse.arrow_bytes_in"] += ex.value(n, "data sent to Python workers")
            m["parse.arrow_bytes_out"] += ex.value(n, "data returned from Python workers")
        for n in ex.nodes("FlatMapGroupsInPandas"):
            m["replay.python_ms"] += ex.value(n, "time to run Python workers")
            m["replay.bytes_to_python"] += ex.value(n, "data sent to Python workers")
            m["replay.rows_out"] += ex.value(n, "number of output rows")
        chain = {}
        for w in ex.nodes("Window"):
            chain[id(w)] = w
            chain.update((id(n), n) for n in _sessionize_chain(w))
        for n in chain.values():
            if n.name in ("Window", "Sort"):
                m["sessionize.spill_bytes"] += ex.value(n, "spill size")
                m["sessionize.sort_ms"] += ex.value(n, "sort time")
                sess_accs |= {a for a, _ in n.metrics.values()}
            elif n.name == "Exchange":
                m["sessionize.shuffle_bytes"] += ex.value(n, "shuffle bytes written")
        if call == "enrich":
            m["enrich.broadcast_joins"] += len(ex.nodes("BroadcastHashJoin"))
            continue
        aggs = ex.nodes("HashAggregate", "ObjectHashAggregate")
        for n in aggs:
            m["summarize.agg_build_ms"] += ex.value(n, "time in aggregation build")
            m["summarize.sort_fallback_tasks"] += ex.value(n, "number of sort fallback tasks")
            m["summarize.peak_mem_mb"] = max(
                m["summarize.peak_mem_mb"], ex.task_max(n, "peak memory") / 2**20)
        # the bottom-most partial aggregate: rows in vs rows out
        partial = [n for n in aggs if "partial_" in n.desc]
        if partial:
            low = partial[-1]
            agg_in += _first_rows(low, ex)
            agg_out += ex.value(low, "number of output rows")

    m["parse.keep_ratio"] = kept / scan_rows if scan_rows else 1.0
    m["summarize.partial_ratio"] = agg_out / agg_in if agg_in else 1.0
    sess_stage_ms = defaultdict(list)
    for t in my_tasks:
        m["jvm.gc_ms"] += t["gc_ms"]
        m["shuffle.bytes_total"] += t["shuffle_bytes"]
        m["spill.bytes_total"] += t["spill_bytes"]
        if t["accs"] & sess_accs:
            sess_stage_ms[t["stage"]].append(t["ms"])
    skews = [max(v) / max(statistics.median(v), 1.0) for v in sess_stage_ms.values()]
    m["sessionize.task_skew"] = max(skews) if skews else 1.0

    for s in spans:
        if s["rep"] != rep:
            continue
        dur = s["end"] - s["start"]
        m["span.plan_s" if s["kind"] == "plan" else "span.action_s"] += dur
        if s["name"] == "write_sinks":
            m["route.write_s"] += dur
        elif s["name"] == "enrich":
            m["enrich.call_s"] += dur
        elif s["name"] == "run_resumable":
            m["checkpoint.resume_s"] += dur
            scanned = max(
                (ex.value(n, "number of output rows")
                 for ex in mine if ex.span is s for n in ex.nodes("Scan parquet")),
                default=0.0,
            )
            m["checkpoint.scanned_rows"] = scanned
        elif s["name"] == "noop_resume":
            m["checkpoint.noop_resume_s"] += dur
    return dict(m)


def layer_metrics(eventlog: Path, spans: list[dict], reps: list[str]) -> list[dict]:
    """``rep_layers`` for each of ``reps``."""
    execs, tasks = read_eventlog(eventlog)
    _attach_spans(execs, spans)
    return [rep_layers(execs, tasks, spans, r) for r in reps]


def median_layers(per_rep: list[dict]) -> dict:
    keys = {k for r in per_rep for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in per_rep) for k in keys}
