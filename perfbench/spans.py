"""Spans around the benchmark's calls into the engine's layers, and the
per-layer numbers derived from them.

A span is recorded only in the benchmark's own code, around one call
into a layer function. Each span has a name (`<layer>.<call>`, e.g.
`storage.read.topk.exec`), a start and end (epoch seconds), a parent
span and an operation id shared by every span of one operation. While
a span is open its id is the Spark job group, so every job the call
launches carries it. Spans stay in memory; the status store is read
once, after the measured window, and each job, stage and SQL
execution is attributed to the span whose group it carries (jobs
launched from engine-internal threads carry no group and fall back to
the innermost span open at their submission time).
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "operators", "storage", "streaming")
# layers whose calls happen once per set-up, not once per operation
SETUP_LAYERS = ("session", "sources")
_MB = 1024.0 * 1024.0


class Tracer:
    """Collects spans when enabled; a disabled tracer costs one branch
    per call and touches no Spark state."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None
        self.scope = "setup"

    def rebind(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "scope": self.scope,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add_child(self, parent: dict, name: str, start: float, end: float, **attrs) -> None:
        """A span reconstructed from the engine's own progress reports
        (e.g. the foreachBatch append inside a streaming trigger)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"],
            "op": parent["op"],
            "scope": parent["scope"],
            "start": start,
            "end": end,
            "group": None,
            **attrs,
        }
        self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"] if rec else None)
        self.sc.setLocalProperty("spark.job.description", rec["name"] if rec else None)


# --------------------------------------------------------------------------
# status-store harvest (py4j) — run after the measured window only
# --------------------------------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return d.getTime() / 1000.0 if d is not None else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def harvest(spark) -> dict:
    """Jobs, stages and Python-worker SQL metrics from the live status
    stores, as plain dicts."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = []
    for j in _seq(store.jobsList(None)):
        jobs.append(
            {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "submit": _ms(j.submissionTime()),
                "end": _ms(j.completionTime()),
                "stages": [int(s) for s in _seq(j.stageIds())],
            }
        )
    stages = {}
    for s in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if s.status().toString() != "COMPLETE":
            continue
        stages[s.stageId()] = {
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "input_b": s.inputBytes(),
            "output_b": s.outputBytes(),
            "shuffle_write_b": s.shuffleWriteBytes(),
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1000.0,
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    sql_store = spark._jsparkSession.sharedState().statusStore()
    python_io = []
    for e in _seq(sql_store.executionsList()):
        names = {
            m.accumulatorId(): m.name()
            for m in _seq(e.metrics())
            if "Python workers" in m.name()
        }
        if not names:
            continue
        values = sql_store.executionMetrics(e.executionId())
        total = 0.0
        for acc in names:
            v = values.get(acc)
            if v.isDefined():
                total += _parse_size(v.get())
        it = e.jobs().keys().iterator()
        job_ids = []
        while it.hasNext():
            job_ids.append(int(it.next()))
        python_io.append({"jobs": job_ids, "bytes": total})
    return {"jobs": jobs, "stages": stages, "python_io": python_io}


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def _parse_size(text: str) -> float:
    """Total of an SQL size metric: the first size after the
    'total (min, med, max ...)' header, or the only size present."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


# --------------------------------------------------------------------------
# attribution and per-layer metrics
# --------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], store: dict) -> dict:
    """Give every job to one span: by job group, else (engine-internal
    threads carry none) to the innermost span open when it was
    submitted; the streaming query's own jobs go to the span that
    recorded its run id. Jobs outside every span (untraced windows)
    are dropped. Each stage counts once, for the first job that lists
    it."""
    by_group = {s["group"]: s for s in spans if s.get("group")}
    by_run = {s["run_id"]: s for s in spans if s.get("run_id")}
    timed = sorted((s for s in spans if s["end"] is not None), key=lambda s: s["start"])
    per_span = {s["id"]: {"jobs": [], "stages": []} for s in spans}
    seen_stages: set[int] = set()
    job_span = {}
    for j in sorted(store["jobs"], key=lambda j: j["id"]):
        sp = by_group.get(j["group"]) or by_run.get(j["group"])
        if sp is None and j["submit"] is not None:
            cands = [s for s in timed if s["start"] <= j["submit"] + 0.001 and j["submit"] <= s["end"]]
            sp = max(cands, key=lambda s: s["start"]) if cands else None
        if sp is None:
            continue
        job_span[j["id"]] = sp["id"]
        per_span[sp["id"]]["jobs"].append(j)
        for st in j["stages"]:
            if st in store["stages"] and st not in seen_stages:
                seen_stages.add(st)
                per_span[sp["id"]]["stages"].append(store["stages"][st])
    py_io = {s["id"]: 0.0 for s in spans}
    for e in store["python_io"]:
        owners = [job_span[j] for j in e["jobs"] if j in job_span]
        if owners:
            py_io[min(owners)] += e["bytes"]
    return {"per_span": per_span, "python_io": py_io}


def _span_numbers(s: dict, att: dict, children: list[dict]) -> dict:
    wall = s["end"] - s["start"]
    jobs = att["per_span"][s["id"]]["jobs"]
    stages = att["per_span"][s["id"]]["stages"]
    covered = _union(
        [
            (max(j["submit"], s["start"]), min(j["end"], s["end"]))
            for j in jobs
            if j["submit"] is not None and j["end"] is not None and j["end"] > j["submit"]
        ]
    )
    child_cover = _union([(c["start"], c["end"]) for c in children])
    agg = {k: sum(st[k] for st in stages) for k in (
        "tasks", "run_s", "cpu_s", "gc_s", "input_b", "output_b",
        "shuffle_write_b", "fetch_wait_s", "spill_b")}
    return {
        "call_s": wall,
        "self_s": wall - child_cover,
        "jobs": len(jobs),
        "stages": len(stages),
        "driver_gap_s": max(0.0, wall - child_cover - covered),
        "python_io_b": att["python_io"][s["id"]],
        **agg,
    }


def _sum(rows: list[dict], key: str) -> float:
    return float(sum(r[key] for r in rows))


def layer_metrics(spans: list[dict], store: dict, cores: int, n_ops: int, n_setups: int) -> dict:
    """The per-layer metric set. Operation-scope layers (operators,
    storage, streaming) are totals over the traced window's spans
    divided by the number of operations; set-up layers (session,
    sources) are divided by the number of set-ups. Every metric is
    present for every workload; a layer a workload never calls reads
    0."""
    att = attribute(spans, store)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    nums = {s["id"]: _span_numbers(s, att, kids.get(s["id"], [])) for s in spans}

    def layer_of(s):
        return s["name"].split(".", 1)[0]

    def rows(pred):
        return [nums[s["id"]] for s in spans if pred(s)]

    out: dict[str, float] = {}
    for layer in LAYERS:
        scope = "setup" if layer in SETUP_LAYERS else "op"
        div = max(1, n_setups if scope == "setup" else n_ops)
        # a layer's call time counts its outermost spans only, so a
        # nested span of the same layer is not counted twice
        rs = rows(
            lambda s: s["scope"] == scope
            and layer_of(s) == layer
            and not (s["parent"] is not None and layer_of(spans[s["parent"]]) == layer)
        )
        inner = rows(lambda s: s["scope"] == scope and layer_of(s) == layer)
        call = _sum(rs, "call_s")
        out[f"{layer}.call_s"] = call / div
        out[f"{layer}.self_s"] = _sum(inner, "self_s") / div
        out[f"{layer}.jobs"] = _sum(inner, "jobs") / div
        out[f"{layer}.stages"] = _sum(inner, "stages") / div
        out[f"{layer}.tasks"] = _sum(inner, "tasks") / div
        out[f"{layer}.driver_gap_s"] = _sum(inner, "driver_gap_s") / div
        out[f"{layer}.task_util"] = _sum(inner, "run_s") / (call * cores) if call else 0.0

    def op_rows(prefix, suffix=""):
        return rows(lambda s: s["scope"] == "op" and s["name"].startswith(prefix) and s["name"].endswith(suffix))

    n = max(1, n_ops)
    ops = op_rows("operators.")
    out["operators.build_s"] = _sum(op_rows("operators.", ".build"), "call_s") / n
    out["operators.exec_s"] = _sum(op_rows("operators.", ".exec"), "call_s") / n
    out["operators.executor_cpu_s"] = _sum(ops, "cpu_s") / n
    out["operators.gc_s"] = _sum(ops, "gc_s") / n
    out["operators.shuffle_write_mb"] = _sum(ops, "shuffle_write_b") / _MB / n
    out["operators.fetch_wait_s"] = _sum(ops, "fetch_wait_s") / n
    out["operators.spill_mb"] = _sum(ops, "spill_b") / _MB / n
    out["operators.python_io_mb"] = _sum(ops, "python_io_b") / _MB / n

    reads = op_rows("storage.read.")
    out["storage.read.call_s"] = _sum(reads, "call_s") / n
    out["storage.read.input_mb"] = _sum(reads, "input_b") / _MB / n
    out["storage.read.tasks"] = _sum(reads, "tasks") / n
    out["storage.read.driver_gap_s"] = _sum(reads, "driver_gap_s") / n
    writes = op_rows("storage.write.")
    out["storage.write.call_s"] = _sum(writes, "call_s") / n
    out["storage.write.output_mb"] = _sum(writes, "output_b") / _MB / n
    builds = [nums[s["id"]]["call_s"] for s in spans if s["name"] == "storage.write.build_and_commit_bm25"]
    out["storage.build_s"] = statistics.median(builds) if builds else 0.0
    # source tables are scanned inside the operator calls; those scans'
    # input bytes are the sources layer's count
    out["sources.input_mb"] = _sum(ops, "input_b") / _MB / n
    starts = [nums[s["id"]]["call_s"] for s in spans if s["name"] == "session.get_spark" and s.get("cold")]
    out["session.start_s"] = starts[0] if starts else 0.0
    out["trace.spans"] = float(len(spans))
    return out
