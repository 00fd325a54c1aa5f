"""Span tracing of the package layers, installed from outside the package.

A ``Tracer`` wraps the public entry points listed in ``ENTRY_POINTS``. Each
call becomes a span (layer, name, start, end, parent, trace id). While a span
is the innermost open one, Spark jobs run under its own job group, so after a
pass ``statusTracker().getJobIdsForGroup`` gives the jobs each span launched
and the status store gives their stage metrics. This works with
``spark.ui.enabled=false``.

The wrappers replace the function on its defining module and every by-name
binding of it in the loaded package modules and ``__spark_entry__`` (which
imports e.g. ``add_decile`` and ``minhash_lsh_pairs`` at module top).
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import time

LAYERS = ("session", "metadata", "plans", "operators", "functions", "sources", "exec")

# layer -> (module, attribute) of each public entry point wrapped in a span;
# "Class.method" patches the class attribute
ENTRY_POINTS = {
    "session": [
        ("hbsir_old_spark.session", "get_spark"),
        ("hbsir_old_spark.session", "ensure_min_partitions"),
    ],
    "metadata": [
        ("hbsir_old_spark.metadata.corpus", "load_corpus"),
        ("hbsir_old_spark.metadata.corpus", "build_reference_registry"),
    ],
    "plans": [
        ("hbsir_old_spark.plans.registry", "TableRegistry.load_table"),
        ("hbsir_old_spark.plans.registry", "TableRegistry.add_classification"),
        ("hbsir_old_spark.plans.registry", "TableRegistry.add_attribute"),
        ("hbsir_old_spark.plans.registry", "TableRegistry.add_weights"),
    ],
    "operators": [
        ("hbsir_old_spark.operators.reshape", "pivot_table"),
        ("hbsir_old_spark.operators.quantile", "add_decile"),
        ("hbsir_old_spark.operators.quantile", "weighted_ecdf"),
        ("hbsir_old_spark.operators.weighted", "average_table"),
        ("hbsir_old_spark.operators.weighted", "weighted_average"),
    ],
    "functions": [
        ("hbsir_old_spark.functions.curation", "curate_corpus"),
        ("hbsir_old_spark.functions.curation", "curate_corpus_fuzzy"),
        ("hbsir_old_spark.functions.dedup", "minhash_lsh_pairs"),
        ("hbsir_old_spark.functions.dedup", "connected_components"),
        ("hbsir_old_spark.functions.dedup", "remove_duplicate_passages"),
        ("hbsir_old_spark.functions.standard", "bin_by_breaks"),
    ],
    "sources": [
        ("hbsir_old_spark.sources.writer", "write_partitioned"),
        ("hbsir_old_spark.sources.writer", "read_partitioned"),
        ("hbsir_old_spark.sources.cache", "FingerprintCache.get"),
        ("hbsir_old_spark.sources.cache", "FingerprintCache.put"),
    ],
}

# "entry" spans wrap each query's build in __spark_entry__: jobs its own code
# launches outside every package span (e.g. an eager localCheckpoint) land there
ENTRY = "entry"

# per-layer metric suffixes reported for every layer
LAYER_FIELDS = ("calls", "self_s", "jobs", "task_cpu_s", "py_cpu_s")


def _written_paths(name, args, kwargs):
    """Paths a sources-layer writer call leaves behind, for byte/file counts."""
    if name == "write_partitioned":
        return [kwargs.get("path", args[1] if len(args) > 1 else None)]
    if name == "FingerprintCache.put":
        cache, _df, table, year = args[:4]
        return list(cache._paths(table, year))
    return []


def tree_size(path) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` — a file or a
    directory tree; Hadoop's ``.crc`` side files and ``_SUCCESS`` markers
    are not data and are skipped."""
    if not path or not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans) -> dict[int, tuple[float, float]]:
    """span id -> (self wall s, self Python CPU s).

    Self wall time is the span's duration minus the part of its interval
    its child spans cover; self CPU time subtracts the children's CPU."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = _union_length(
            (max(k["start"], s["start"]), min(k["end"], s["end"]))
            for k in kids
            if k["end"] > s["start"] and k["start"] < s["end"]
        )
        kid_cpu = sum(k["cpu_end"] - k["cpu_start"] for k in kids)
        out[s["id"]] = (
            s["end"] - s["start"] - covered,
            s["cpu_end"] - s["cpu_start"] - kid_cpu,
        )
    return out


def layer_metrics(spans) -> dict[str, float]:
    """Aggregate finished spans (with their ``stages`` attached) into the
    per-layer metric dict: ``L.calls/self_s/jobs/task_cpu_s/py_cpu_s`` for
    every layer plus ``entry``, and the exec/sources extras."""
    selfs = self_times(spans)
    m = {f"{layer}.{f}": 0.0 for layer in (*LAYERS, ENTRY) for f in LAYER_FIELDS}
    for k in ("stages", "input_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"exec.{k}"] = 0.0
    m["sources.bytes_written"] = m["sources.files_written"] = 0.0
    for s in spans:
        layer = s["layer"]
        if layer not in LAYERS and layer != ENTRY:
            continue
        wall, cpu = selfs[s["id"]]
        m[f"{layer}.calls"] += 1
        m[f"{layer}.self_s"] += wall
        m[f"{layer}.py_cpu_s"] += cpu
        m[f"{layer}.jobs"] += len(s.get("jobs", ()))
        for st in s.get("stages", ()):
            m[f"{layer}.task_cpu_s"] += st["cpu_s"]
            if layer == "exec":
                m["exec.stages"] += 1
                m["exec.input_bytes"] += st["input_bytes"]
                m["exec.shuffle_write_bytes"] += st["shuffle_write_bytes"]
                m["exec.spill_bytes"] += st["spill_bytes"]
                m["exec.gc_s"] += st["gc_s"]
        if layer == "sources":
            m["sources.bytes_written"] += s.get("bytes_written", 0)
            m["sources.files_written"] += s.get("files_written", 0)
    return m


class Tracer:
    """Records spans while ``phase`` is set; a pass-through otherwise."""

    def __init__(self):
        self.phase: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)

    # -- spans ------------------------------------------------------------
    def span(self, layer: str, name: str, fn, /, *args, **kwargs):
        if self.phase is None:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else next(self._trace_ids),
            "phase": self.phase,
            "layer": layer,
            "name": name,
        }
        s["group"] = f"perfbench-{s['id']}"
        self._set_group(s["group"], f"{layer}.{name}")
        self._stack.append(s)
        s["cpu_start"], s["start"] = time.process_time(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            s["end"], s["cpu_end"] = time.perf_counter(), time.process_time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._set_group(top["group"], f"{top['layer']}.{top['name']}")
            else:
                self._clear_group()
            if layer == "sources":
                for p in _written_paths(name, args, kwargs):
                    b, f = tree_size(p)
                    s["bytes_written"] = s.get("bytes_written", 0) + b
                    s["files_written"] = s.get("files_written", 0) + f
            self.spans.append(s)

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, group: str, desc: str) -> None:
        sc = self._sc()
        if sc is not None:
            sc.setJobGroup(group, desc)

    def _clear_group(self) -> None:
        sc = self._sc()
        if sc is not None:
            sc._jsc.clearJobGroup()

    # -- patching -----------------------------------------------------------
    def install(self) -> None:
        """Wrap every entry point and rebind every by-name reference to it."""
        import importlib

        originals = {}
        for layer, points in ENTRY_POINTS.items():
            for modname, attr in points:
                mod = importlib.import_module(modname)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    owner = getattr(mod, cls_name)
                    orig = owner.__dict__[meth]
                    setattr(owner, meth, self._wrap(layer, attr, orig))
                else:
                    orig = getattr(mod, attr)
                    originals[id(orig)] = (orig, self._wrap(layer, attr, orig))
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name == "__spark_entry__" or name.startswith("hbsir_old_spark")):
                continue
            for key, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, key, hit[1])

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)

        return wrapper

    # -- job and stage attribution -------------------------------------------
    def attach_stages(self, sc, spans) -> None:
        """Attach to each span its job ids and per-stage metrics, read from
        Spark's status tracker and status store."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in spans:
            s["jobs"] = sorted(tracker.getJobIdsForGroup(s["group"]))
            s["stages"] = []
            for job in s["jobs"]:
                info = tracker.getJobInfo(job)
                for stage_id in info.stageIds if info else ():
                    st = _stage_metrics(store, stage_id)
                    if st is not None:
                        s["stages"].append(st)


def _stage_metrics(store, stage_id: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # skipped stage: never attempted, no record
        return None
    if st.status().toString() == "SKIPPED":
        return None
    return {
        "stage": stage_id,
        "cpu_s": st.executorCpuTime() / 1e9,
        "input_bytes": st.inputBytes(),
        "shuffle_write_bytes": st.shuffleWriteBytes(),
        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        "gc_s": st.jvmGcTime() / 1e3,
    }
