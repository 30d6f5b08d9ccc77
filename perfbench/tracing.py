"""Span and Spark-counter recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
traced phase swaps a layer's public function, in the namespace of the
module that calls it, for a wrapper that opens a span, runs the call under
the span's own Spark job group, materialises the DataFrame it returns
(persist + count) so the layer's work lands inside the span, and reads the
group's jobs, tasks and shuffle-write bytes from Spark's status store.
Materialising at every boundary changes plan fusion, so end-to-end metrics
come only from the untraced phase. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict, namedtuple
from statistics import median

from pyspark import StorageLevel
from pyspark.sql import DataFrame

COUNTERS = ("wall_s", "jobs", "tasks", "shuffle_write_mb")

# One traced call site: ``module.attr`` runs in span ``span``; see Tracer.wrap
# for ``count``, ``pick`` and ``post``.
Patch = namedtuple("Patch", "module attr span count pick post", defaults=(None, None, None))


def persist_count(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


class Tracer:
    """Collects spans (name, start, end, parent, op id) with Spark
    counters; a disabled tracer's spans are no-ops."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()
        self._cached: list[DataFrame] = []
        self._t0 = time.perf_counter()

    # ---- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._read_counters(rec)

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-span-{rec['id']}", rec["name"])

    def _read_counters(self, rec: dict) -> None:
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = self.sc.statusTracker().getJobIdsForGroup(f"perfbench-span-{rec['id']}")
        tasks = shuffle = 0
        for jid in jobs:
            job = store.job(jid)
            tasks += job.numCompletedTasks()
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue
                stage = store.lastStageAttempt(sid)
                if str(stage.status()) == "COMPLETE":
                    self._seen_stages.add(sid)
                    shuffle += stage.shuffleWriteBytes()
        # counters are inclusive: add the already-closed direct children
        n_jobs = len(jobs)
        for child in self.spans[rec["id"] + 1:]:
            if child["parent"] == rec["id"]:
                n_jobs += child["jobs"]
                tasks += child["tasks"]
                shuffle += child["shuffle_write_mb"] * 2**20
        rec["jobs"] = n_jobs
        rec["tasks"] = tasks
        rec["shuffle_write_mb"] = shuffle / 2**20

    # ---- layer wrappers --------------------------------------------------
    def wrap(self, fn, name: str, count: str | None = None, pick=None, post=None):
        """Wrapper running ``fn`` in span ``name``. With ``count`` set, the
        DataFrame result (or ``pick(result)``'s frames, for tuples and
        state objects) is persisted and counted inside the span and the
        row count recorded as ``<name>.<count>``. ``post(args, kwargs,
        result)`` adds extra fields after the span closed."""

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if count is not None:
                    out, rec[count] = (pick or _materialise_df)(out, self)
            if post is not None:
                rec.update(post(args, kwargs, out))
            return out

        return traced

    @contextlib.contextmanager
    def patched(self, patches: list[Patch]):
        """Install the wrappers for the duration of the block; restores the
        originals on exit."""
        saved = []
        try:
            for p in patches:
                orig = getattr(p.module, p.attr)
                saved.append((p.module, p.attr, orig))
                setattr(p.module, p.attr, self.wrap(orig, p.span, p.count, p.pick, p.post))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def keep(self, df: DataFrame) -> None:
        self._cached.append(df)

    def end_op(self) -> None:
        while self._cached:
            self._cached.pop().unpersist()

    # ---- results ---------------------------------------------------------
    def per_op(self) -> dict[int, dict[str, float]]:
        """{op: {metric: value}}: counters summed over same-named spans in
        the op; row counts and other fields from the op's last span."""
        out: dict[int, dict[str, float]] = defaultdict(dict)
        for rec in self.spans:
            if rec.get("op") is None:
                continue
            m = out[rec["op"]]
            for k, v in rec.items():
                if k in ("id", "name", "op", "parent", "start", "end"):
                    continue
                key = f"{rec['name']}.{k}"
                m[key] = m.get(key, 0) + v if k in COUNTERS else v
        return out

    def medians(self) -> dict[str, float]:
        ops = self.per_op()
        keys = {k for m in ops.values() for k in m}
        # a span absent from an op did no work in it
        return {k: median(m.get(k, 0) for m in ops.values()) for k in keys}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def _materialise_df(df: DataFrame, tracer: Tracer):
    df, n = persist_count(df)
    tracer.keep(df)
    return df, n
