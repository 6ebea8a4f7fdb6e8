"""Spans around calls into the program's layers, and the counts Spark's
status tracker and status store give for the jobs each span ran.

Spans are kept in memory and written out once, at the end of a run. With
tracing off every method is a cheap no-op, so the end-to-end numbers carry
no tracing cost."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

# status-store fields summed per op, with the name each is reported under;
# byte counts come from completed stages only, because how much a failed
# stage wrote before its job aborted depends on timing
STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
}
SOURCE_READERS = ("load_table", "load_events", "read_jsonl")


def _scala_ints(seq) -> list[int]:
    text = seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    """Records spans (name, start, end, parent, op) and, per span, the Spark
    jobs it ran, found through a job group named after the span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._sc = None
        self._patched: list[tuple] = []

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            self._sc.setJobGroup(f"span{rec['id']}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self._sc.setJobGroup(f"span{parent['id']}", parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap_sources(self, package: str) -> None:
        """Put a span around every call of the sources-layer readers,
        including the calls the plans make, by replacing each reference to
        them in the program's modules. `unwrap` puts the originals back."""
        if not self.enabled:
            return
        tables = sys.modules[f"{package}.sources.tables"]
        for fname in SOURCE_READERS:
            orig = getattr(tables, fname)

            def traced(*a, _orig=orig, _name=f"sources.{fname}", **kw):
                with self.span(_name):
                    return _orig(*a, **kw)

            for mod in [m for n, m in sys.modules.items() if n.startswith(package)]:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, traced)
                        self._patched.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()

    @contextmanager
    def op(self, index: int):
        """One timed op. Afterwards its spans get their Spark counts."""
        if not self.enabled:
            yield
            return
        self._op = index
        rec = {"op": index, "start": time.time(), "cpu0": time.process_time(), "actions": []}
        self.ops.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["driver_cpu_s"] = time.process_time() - rec.pop("cpu0")
            self._op = None

    def action_frame(self, df) -> None:
        """Note a frame whose action the current op ran, for Catalyst time."""
        if self.enabled and self.ops:
            self.ops[-1]["actions"].append(df)

    def finish_op(self) -> None:
        """Collect the Spark side of the last op, outside its timing."""
        if not self.enabled:
            return
        rec = self.ops[-1]
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        catalyst_ms = 0
        for df in rec.pop("actions"):
            qe = df._jdf.queryExecution()
            if not qe.tracker().phases().get("planning").isDefined():
                # a noop write plans its own command; plan the frame once
                # more to read what its planning costs
                qe.executedPlan()
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                o = phases.get(p)
                catalyst_ms += o.get().durationMs() if o.isDefined() else 0
        rec["catalyst_s"] = catalyst_ms / 1e3
        seen_stages: set[int] = set()
        for s in self.spans:
            if s["op"] != rec["op"]:
                continue
            s["jobs"], s["stages"] = [], []
            for jid in tracker.getJobIdsForGroup(f"span{s['id']}"):
                jd = store.job(jid)
                s["jobs"].append({"id": jid, "status": jd.status().toString()})
                for sid in _scala_ints(jd.stageIds()):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    st = {f: getattr(sd, f)() for f in STAGE_FIELDS}
                    st.update(
                        id=sid,
                        status=sd.status().toString(),
                        tasks=sd.numTasks(),
                        submitted=_opt_ms(sd.submissionTime()),
                        completed=_opt_ms(sd.completionTime()),
                    )
                    s["stages"].append(st)

    # --- per-op figures ---------------------------------------------------
    def _op_figures(self, rec: dict) -> dict:
        spans = [s for s in self.spans if s["op"] == rec["op"]]
        by_id = {s["id"]: s for s in spans}

        def layer(s):
            return s["name"].split(".", 1)[0]

        def top(s, lay):
            """True when no enclosing span is of the same layer."""
            p = s["parent"]
            while p is not None and p in by_id:
                if layer(by_id[p]) == lay:
                    return False
                p = by_id[p]["parent"]
            return True

        def under(s, lay):
            while s is not None:
                if layer(s) == lay:
                    return True
                s = by_id.get(s["parent"])
            return False

        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        stages = [st for s in spans for st in s.get("stages", [])]
        out = {
            "plans.build_s": sum(dur(s) for s in spans if layer(s) == "plans" and top(s, "plans")),
            "plans.build_jobs": sum(len(s.get("jobs", [])) for s in spans if under(s, "plans")),
            "sources.read_plan_s": sum(
                dur(s) for s in spans
                if s["name"].split(".")[-1] in SOURCE_READERS and top(s, "sources")
            ),
            "sources.upsert_s": sum(dur(s) for s in spans if s["name"] == "sources.upsert"),
            "spark.catalyst_s": rec["catalyst_s"],
            "spark.jobs": sum(len(s.get("jobs", [])) for s in spans),
            "spark.stages": len(stages),
            "spark.tasks": sum(st["tasks"] for st in stages),
            "python.driver_cpu_s": rec["driver_cpu_s"],
            "python.collect_s": sum(dur(s) for s in spans if s["name"] == "spark.toPandas"),
        }
        for f, (name, scale) in STAGE_FIELDS.items():
            ran = [st for st in stages if not name.endswith("_bytes") or st["status"] == "COMPLETE"]
            out[name] = sum(st[f] for st in ran) * scale
        gap = 0.0
        for s in spans:
            if layer(s) != "spark":
                continue
            lo, hi = s["start"] * 1e3, s["end"] * 1e3
            runs = sorted(
                (max(st["submitted"], lo), min(st["completed"], hi))
                for st in stages
                if st["submitted"] is not None and st["completed"] is not None
            )
            covered, reach = 0.0, lo
            for a, b in runs:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            gap += (hi - lo - covered) / 1e3
        out["spark.sched_gap_s"] = gap
        for key in ("partitions_rewritten", "files_written", "bytes_written"):
            out[f"sources.{key}"] = rec.get(key, 0)
        return out

    def layer_metrics(self, first_n: int) -> dict:
        """Median of each per-op figure over the first `first_n` timed ops,
        so that counts repeat exactly between runs of one seed."""
        figs = [self._op_figures(r) for r in self.ops[:first_n]]
        return {k: statistics.median(f[k] for f in figs) for k in figs[0]}

    def self_times(self) -> dict:
        """Seconds per layer, each span minus what its child spans cover,
        summed over all traced ops."""
        totals: dict[str, float] = {}
        for s in self.spans:
            if s["op"] is None or "end" not in s:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
            lay = s["name"].split(".", 1)[0]
            totals[lay] = totals.get(lay, 0.0) + (s["end"] - s["start"]) - kids
        return totals

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ops = [{k: v for k, v in r.items() if k != "actions"} for r in self.ops]
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "ops": ops, "spans": self.spans}, f)
