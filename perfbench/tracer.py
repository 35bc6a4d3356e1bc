"""Span recorder for traced benchmark runs.

Wraps public functions of ``sparkcdc`` from the outside (same arguments,
same return value), records one span per call (name, start, end, parent,
trigger id) and gives every span that can launch Spark jobs its own job
group, restoring the enclosing group on exit. Stage metrics are read once
from the Spark UI's ``/api/v1`` endpoint when the run ends, so the timed
path pays only the wrapper and two ``setLocalProperty`` calls per span.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import glob
import json
import os
import time
import urllib.request

# layer -> whether its calls get a job group (and so Spark counters)
LAYERS = {
    "engine.run": True,
    "engine.plan_batches": True,
    "engine.apply_batch": True,
    "changelog.max_seq_parquet_stats": False,
    "changelog.read_log": True,
    "icebox.merge": True,
    "icebox.compact": True,
    "icebox.read_keys": True,
    "icebox.read_changes": True,
    "aggview.refresh_from": True,
    "packing.refresh_from": True,
    "commitstore.put_if_absent": False,
    "commitstore.get": False,
    "commitstore.list_names": False,
    "metrics.emit": False,
}
SPARK_COUNTERS = ("jobs", "tasks", "task_cpu_s", "shuffle_bytes", "input_bytes",
                  "output_bytes", "driver_s")
EXTRA_COUNTERS = {
    "changelog.max_seq_parquet_stats": ("files",),
    "icebox.merge": ("probe_s", "write_s", "footer_s", "rows_written", "bytes_written",
                     "files_written", "mor_batches", "conflict_retries"),
    "icebox.compact": ("compacted_buckets", "files_before", "files_after"),
    "icebox.read_keys": ("rows",),
    "packing.refresh_from": ("applied_shards",),
    "commitstore.put_if_absent": ("lost",),
}


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = []
    for layer, grouped in LAYERS.items():
        counters = ["calls", "wall_s"]
        if grouped:
            counters += ["self_s", *SPARK_COUNTERS]
        counters += EXTRA_COUNTERS.get(layer, ())
        names += [f"{layer}.{c}" for c in counters]
    return names + ["trace.ops", "trace.overhead_s"]


def _union_len(ivals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(ivals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _clip(ivals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in ivals if e > lo and s < hi]


def _minus(ivals, holes):
    """Parts of ``ivals`` not covered by ``holes``."""
    out = []
    for s, e in ivals:
        cur = [(s, e)]
        for hs, he in holes:
            nxt = []
            for a, b in cur:
                if he <= a or hs >= b:
                    nxt.append((a, b))
                    continue
                if a < hs:
                    nxt.append((a, hs))
                if he < b:
                    nxt.append((he, b))
            cur = nxt
        out += cur
    return out


def _ui_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.datetime.strptime(s.replace("GMT", "+0000"),
                                      "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """Records spans while ``active``; ``install`` patches the layers."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # the table whose icebox and commit-store calls are recorded
        self.main_path: str | None = None
        self.active = False
        self.trigger: int | None = None
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self._patches: list[tuple] = []

    # ---------------- spans ----------------

    @contextlib.contextmanager
    def span(self, name: str, *, group: bool = True):
        if not self.active:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "trigger": self.trigger, "group": None, "n": {}}
        self.spans.append(sp)
        self.stack.append(sp)
        if group:
            sp["group"] = f"perfbench-{sp['id']}"
            self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.stack.pop()
            if group:
                outer = next((s for s in reversed(self.stack) if s["group"]), None)
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _inside(self, name: str) -> bool:
        return bool(self.stack) and self.stack[-1]["name"] == name

    def wrap(self, owner, attr: str, name: str, *, when=None, after=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``when(args)``
        filters which calls are recorded; ``after(span, args, kwargs, out)``
        adds counters once the span has closed. A call nested directly in a
        span of the same name is folded into it."""
        orig = getattr(owner, attr)
        tracer = self
        group = LAYERS[name]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer._inside(name) or (when and not when(args)):
                return orig(*args, **kwargs)
            with tracer.span(name, group=group) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from sparkcdc import aggview, changelog, commitstore, engine, icebox, metrics, packing

        def on_main(args):
            return getattr(args[0], "path", None) == self.main_path

        def on_main_store(args):
            return (self.main_path is not None
                    and getattr(args[0], "root", None) == os.path.join(self.main_path, "metadata"))

        def add(sp, key, v):
            sp["n"][key] = sp["n"].get(key, 0) + v

        def max_seq_after(sp, args, kwargs, out):
            add(sp, "files", len(glob.glob(os.path.join(args[0], "*.parquet"))))

        def merge_after(sp, args, kwargs, out):
            for src, dst in (("probe_sec", "probe_s"), ("write_sec", "write_s"),
                             ("footer_sec", "footer_s"), ("rows_written", "rows_written"),
                             ("bytes_written", "bytes_written"),
                             ("files_written", "files_written")):
                add(sp, dst, out.get(src, 0) or 0)
            mor = kwargs.get("mor") is True or "auto-mor" in str(out.get("merge_plan", ""))
            add(sp, "mor_batches", int(mor))

        def compact_after(sp, args, kwargs, out):
            for k in ("compacted_buckets", "files_before", "files_after"):
                add(sp, k, out.get(k, 0))

        def packing_after(sp, args, kwargs, out):
            add(sp, "applied_shards", out.get("applied_shards", 0))

        def cas_after(sp, args, kwargs, out):
            add(sp, "lost", int(not out))

        E, I = engine.CDCEngine, icebox.IceboxTable
        self.wrap(E, "run", "engine.run")
        self.wrap(E, "plan_batches", "engine.plan_batches")
        self.wrap(E, "apply_batch", "engine.apply_batch")
        self.wrap(changelog, "max_seq_parquet_stats", "changelog.max_seq_parquet_stats",
                  after=max_seq_after)
        self.wrap(changelog, "read_log", "changelog.read_log")
        # icebox and commit-store spans cover the main table only: a derived
        # table's own merges and commits are part of its refresh's self time
        self.wrap(I, "merge", "icebox.merge", when=on_main, after=merge_after)
        self.wrap(I, "compact", "icebox.compact", when=on_main, after=compact_after)
        self.wrap(I, "read_keys", "icebox.read_keys", when=on_main)
        self.wrap(I, "read_changes", "icebox.read_changes", when=on_main)
        self.wrap(aggview.AggView, "refresh_from", "aggview.refresh_from")
        self.wrap(packing.PackedTable, "refresh_from", "packing.refresh_from",
                  after=packing_after)
        P = commitstore.PosixCommitStore
        self.wrap(P, "put_if_absent", "commitstore.put_if_absent", when=on_main_store,
                  after=cas_after)
        self.wrap(P, "get", "commitstore.get", when=on_main_store)
        self.wrap(P, "list_names", "commitstore.list_names", when=on_main_store)
        self.wrap(metrics.MetricsLog, "emit", "metrics.emit")

        # a refresh() directly inside a merge is one conflict retry
        orig_refresh = I.refresh
        tracer = self

        @functools.wraps(orig_refresh)
        def refresh(self_, *a, **kw):
            if tracer.active and tracer._inside("icebox.merge"):
                add(tracer.stack[-1], "conflict_retries", 1)
            return orig_refresh(self_, *a, **kw)

        I.refresh = refresh
        self._patches.append((I, "refresh", orig_refresh))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------- Spark counters and the report ----------------

    def _get(self, what: str) -> list[dict]:
        url = (f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{what}")
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _ui_snapshot(self) -> tuple[list[dict], list[dict]]:
        """Jobs and completed stages, once the status store has caught up
        with the last job (the listener bus is asynchronous)."""
        last = None
        for _ in range(40):
            jobs = self._get("jobs")
            stages = self._get("stages?status=complete")
            sig = (len(jobs), len(stages),
                   sum(j.get("status") == "RUNNING" for j in jobs))
            if sig == last and sig[2] == 0:
                return jobs, stages
            last = sig
            time.sleep(0.25)
        return jobs, stages

    def attach_spark_counters(self) -> None:
        jobs, stages = self._ui_snapshot()
        stage_by_id = {}
        for s in stages:
            stage_by_id[s["stageId"]] = s  # last completed attempt wins
        jobs_by_group: dict[str, list[dict]] = {}
        for j in jobs:
            if j.get("jobGroup"):
                jobs_by_group.setdefault(j["jobGroup"], []).append(j)
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            kids = [(c["start"], c["end"]) for c in children.get(sp["id"], [])]
            sp["self_s"] = (sp["end"] - sp["start"]) - _union_len(kids)
            if not sp["group"]:
                continue
            n = sp["n"]
            busy = []
            own_jobs = jobs_by_group.get(sp["group"], [])
            n["jobs"] = len(own_jobs)
            for c in ("tasks", "task_cpu_s", "shuffle_bytes", "input_bytes", "output_bytes"):
                n[c] = 0
            for j in own_jobs:
                for sid in j.get("stageIds", []):
                    s = stage_by_id.get(sid)
                    if s is None:
                        continue  # skipped stage (its shuffle output was reused)
                    n["tasks"] += s.get("numCompleteTasks", 0)
                    n["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    n["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                    n["input_bytes"] += s.get("inputBytes", 0)
                    n["output_bytes"] += s.get("outputBytes", 0)
                    a, b = _ui_time(s.get("submissionTime")), _ui_time(s.get("completionTime"))
                    if a is not None and b is not None:
                        busy.append((a, b))
            running = _minus(_clip(busy, sp["start"], sp["end"]), kids)
            n["driver_s"] = max(sp["self_s"] - _union_len(running), 0.0)

    def layer_totals(self, spans: list[dict] | None = None) -> dict[str, dict]:
        out = {layer: {"calls": 0, "wall_s": 0.0, "self_s": 0.0} for layer in LAYERS}
        for sp in self.spans if spans is None else spans:
            if sp["name"] not in out:
                continue
            t = out[sp["name"]]
            t["calls"] += 1
            t["wall_s"] += sp["end"] - sp["start"]
            t["self_s"] += sp["self_s"]
            for k, v in sp["n"].items():
                t[k] = t.get(k, 0) + v
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({k: sp[k] for k in (
                    "id", "name", "start", "end", "parent", "trigger", "self_s", "n")}) + "\n")
