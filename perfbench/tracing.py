"""Span tracing for the traced run (`--trace 1`) only.

The tracer wraps public functions of the program in place, as module
attributes, and re-points every already-imported alias of the same
function object. Each call records a span (name, layer, start, end,
parent). Spark jobs are attributed to the innermost open span through a
per-span job group; their stage metrics (executor run time, shuffle
bytes, tasks) are read from the context's status store before the
context stops. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

# (module, attribute, layer). Class methods are given as "Class.method".
# A layer of None means the caller's layer: materialization and the
# serving-artifact plans belong to whoever asked for them (the engine, or
# the reopen of a persisted index).
TARGETS = [
    ("dint_spark.session", "get_spark", "session"),
    ("dint_spark.engine", "get_index", "engine"),
    ("dint_spark.engine", "get_block_index", "engine"),
    ("dint_spark.engine", "get_universe", "engine"),
    ("dint_spark.engine", "get_norm_slices", "engine"),
    ("dint_spark.engine", "get_shard_bmw", "engine"),
    ("dint_spark.engine", "get_sharded_blocks", "engine"),
    ("dint_spark.tokenizer", "tokenize_words", "build.postings"),
    ("dint_spark.tokenizer", "tokenize_code", "build.postings"),
    ("dint_spark.build.docids", "dense_ids", "build.postings"),
    ("dint_spark.build.postings", "build_fulltext_index", "build.postings"),
    ("dint_spark.build.dint_build", "learn_dint_model", "build.dint_build"),
    ("dint_spark.build.blocks", "build_block_index", "build.blocks"),
    ("dint_spark.build.blocks", "decode_block_index", "build.blocks"),
    ("dint_spark.build.blocks", "index_stats", "build.blocks"),
    ("dint_spark.index.builder", "IndexBuilder.build", "index.builder"),
    ("dint_spark.util", "materialize", None),
    ("dint_spark.operators.wand_shard", "norm_slices", None),
    ("dint_spark.operators.wand_shard", "shard_block_max", None),
    ("dint_spark.operators.wand_shard", "sharded_block_index", None),
    ("dint_spark.operators.wand_shard", "wand_topk_sharded", "operators.wand_shard"),
    ("dint_spark.operators.wand_shard", "maxscore_topk_sharded", "operators.wand_shard"),
    ("dint_spark.operators.wand_shard", "wand_sharded_decode_stats", "operators.wand_shard"),
    ("dint_spark.operators.ranked", "ranked_or", "operators.ranked"),
    ("dint_spark.operators.ranked", "ranked_and", "operators.ranked"),
    ("dint_spark.operators.boolean", "and_query", "operators.boolean"),
    ("dint_spark.operators.boolean", "or_query", "operators.boolean"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._pending: list[dict] = []  # spans whose jobs are not yet resolved

    # ---- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str | None):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            self._sc = sc
        parent = self._stack[-1] if self._stack else None
        if layer is None:
            layer = parent["layer"] if parent else "untraced caller"
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
            self._pending.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                parent = next((s for s in reversed(self._stack) if s["group"]), None)
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc._jsc.clearJobGroup()

    def wrap(self, fn, name: str, layer: str | None):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer) as rec:
                out = fn(*a, **kw)
                if name.endswith("learn_dint_model"):
                    rec["dict_entries"] = len(out.docs) + len(out.freqs)
                return out

        return traced

    def install(self) -> None:
        """Patch every target and every module-level alias of it."""
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self.wrap(getattr(cls, meth), f"{mod_name}.{attr}", layer))
                continue
            orig = getattr(mod, attr)
            traced = self.wrap(orig, f"{mod_name}.{attr}", layer)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if not (name.startswith("dint_spark") or name == "__spark_entry__"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, traced)

    # ---- Spark attribution ----------------------------------------------

    def resolve(self) -> None:
        """Read job/stage metrics of every pending span from the active
        context's status store. Call before the context stops."""
        from py4j.protocol import Py4JJavaError

        sc = self._sc
        if sc is None or not self._pending:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for rec in self._pending:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages, tasks, run_ms, sh_r, sh_w = 0, 0, 0, 0, 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    stages += 1
                    tasks += st.numTasks()
                    run_ms += st.executorRunTime()
                    sh_r += st.shuffleReadBytes()
                    sh_w += st.shuffleWriteBytes()
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       exec_run_ms=run_ms, shuffle_read=sh_r, shuffle_write=sh_w)
        self._pending = []

    # ---- summaries ------------------------------------------------------

    def self_times(self) -> dict[str, dict]:
        """Per layer: calls, inclusive wall, self wall (span minus the
        part its child spans cover), and Spark counters of its own jobs."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s["layer"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                            "jobs": 0, "tasks": 0, "exec_run_ms": 0,
                                            "shuffle_bytes": 0})
            dur = s["end"] - s["start"]
            d["calls"] += 1
            d["self_s"] += dur - child.get(s["id"], 0.0)
            if s["parent"] is None or self.spans[s["parent"]]["layer"] != s["layer"]:
                d["wall_s"] += dur
            d["jobs"] += s.get("jobs", 0)
            d["tasks"] += s.get("tasks", 0)
            d["exec_run_ms"] += s.get("exec_run_ms", 0)
            d["shuffle_bytes"] += s.get("shuffle_read", 0) + s.get("shuffle_write", 0)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, rec: dict) -> list[dict]:
        """rec and all its descendants (spans are appended in start order)."""
        ids, out = {rec["id"]}, [rec]
        for s in self.spans[rec["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out
