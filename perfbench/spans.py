"""Span recorder for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: the public functions of
each engine module are wrapped where their callers look them up, and no
program file changes. A module that did ``from x import f`` holds its own
binding of ``f``, so every ``moonlink_spark`` module whose attribute *is*
the original function gets the wrapper, not just the defining module.

Every span belongs to the benchmark operation that is current when it
starts (``Tracer.operation``), not to the thread that runs it. That is how
the insert write an eager MERGE runs on a pool thread lands under its
MERGE. Within one operation, the outermost spans (depth 0 on their thread)
are the operation's children; their union is the covered time, the rest of
the wall time is the operation's self time, and time where two children
run at once is reported as overlap, never added twice.

Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def _merge_attrs(res, args, kwargs):
    m = res.metrics or {}
    out = {}
    if m.get("total_data_files"):
        out["candidate_ratio"] = m["pruned_candidates"] / m["total_data_files"]
    if m.get("bloom_pruned_from"):
        out["bloom_keep_ratio"] = m["pruned_candidates"] / m["bloom_pruned_from"]
    return out


def _entries_attrs(res, args, kwargs):
    res = res or []
    return {
        "bytes": sum(e.file_size_bytes for e in res),
        "files": len(res),
    }


def _compact_attrs(res, args, kwargs):
    return {
        "skipped": res.skipped,
        "bytes_in": res.in_bytes,
        "bytes_out": res.out_bytes,
        "files_in": res.in_files,
        "files_out": res.out_files,
    }


def _rewrite_attrs(res, args, kwargs):
    return {
        "skipped": res.skipped,
        "manifests_before": res.manifests_before,
        "manifests_after": res.manifests_after,
    }


def _expire_attrs(res, args, kwargs):
    return {"skipped": res.skipped, "files_deleted": res.deleted_data_files}


def _publish_attrs(res, args, kwargs):
    return {
        "pos_delete_files": res.pos_delete_files,
        "eq_delete_files": res.eq_delete_files,
    }


def _tick_attrs(res, args, kwargs):
    return {"triggered": list(res.triggered)}


def _cluster_attrs(res, args, kwargs):
    return {"skipped": res.skipped}


# (layer, module that defines the function, function name, extractor); the
# extractor turns (result, args, kwargs) into span attributes
WRAPPED = [
    ("operators.merge", "moonlink_spark.operators.merge", "merge_cdc_batch", _merge_attrs),
    ("table.planning", "moonlink_spark.table.planning", "plan_data_candidates", None),
    ("table.planning", "moonlink_spark.table.planning", "plan_data_candidates_union", None),
    ("table.planning", "moonlink_spark.table.planning", "plan_compaction_candidates", None),
    ("table.bloom.prune", "moonlink_spark.table.bloom", "prune_by_bloom_distributed", None),
    ("table.scan", "moonlink_spark.table.scan", "scan", None),
    ("table.writer.delete", "moonlink_spark.table.writer", "write_delete_files", _entries_attrs),
    ("table.writer.data", "moonlink_spark.table.writer", "write_data_files", _entries_attrs),
    ("table.writer.data", "moonlink_spark.table.writer", "write_bucketed_data_files", _entries_attrs),
    ("table.writer.eq", "moonlink_spark.table.writer", "write_eq_delete_files", _entries_attrs),
    ("table.stats", "moonlink_spark.table.stats", "collect_file_entries", None),
    ("operators.compact", "moonlink_spark.operators.compact", "compact", _compact_attrs),
    ("operators.cluster", "moonlink_spark.operators.cluster", "cluster", _cluster_attrs),
    ("operators.manifest_rewrite", "moonlink_spark.operators.manifest_rewrite", "rewrite_manifests", _rewrite_attrs),
    ("operators.expire", "moonlink_spark.operators.expire", "expire_snapshots", _expire_attrs),
    ("operators.maintenance", "moonlink_spark.operators.maintenance", "auto_optimize", _tick_attrs),
    ("operators.publish", "moonlink_spark.operators.publish", "publish_iceberg", _publish_attrs),
]

# layers whose spans also count the Spark jobs they ran (an operation
# always counts its own)
JOB_COUNTED = {"operators.compact"}


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    thread: int
    depth: int
    attrs: dict = field(default_factory=dict)


@dataclass
class Operation:
    id: int
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Timer:
    """Times the benchmark's operations; the untraced run uses this alone."""

    def __init__(self):
        self.ops: list[Operation] = []

    @contextmanager
    def operation(self, kind: str, **attrs):
        op = Operation(len(self.ops), kind, time.perf_counter(), attrs=dict(attrs))
        try:
            yield op
        finally:
            op.end = time.perf_counter()
            self.ops.append(op)


class Tracer(Timer):
    """Also records the layer spans inside each operation and the Spark
    jobs, stages and tasks each operation ran."""

    def __init__(self, spark):
        super().__init__()
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._current: Operation | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # ---- Spark job accounting -------------------------------------------
    def job_ids(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def job_counts(self, new_ids: set[int]) -> dict:
        st = self._sc.statusTracker()
        stages = tasks = 0
        for j in new_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
        return {"spark_jobs": len(new_ids), "spark_stages": stages, "spark_tasks": tasks}

    # ---- operations and spans -------------------------------------------
    @contextmanager
    def operation(self, kind: str, **attrs):
        op = Operation(len(self.ops), kind, 0.0, attrs=dict(attrs))
        before = self.job_ids()
        self._current = op
        op.start = time.perf_counter()
        try:
            yield op
        finally:
            op.end = time.perf_counter()
            self._current = None
            op.attrs.update(self.job_counts(self.job_ids() - before))
            self.ops.append(op)

    @contextmanager
    def span(self, name: str):
        op = self._current
        depth = getattr(self._local, "depth", 0)
        self._local.depth = depth + 1
        sp = Span(name, op.id if op else -1, time.perf_counter(), 0.0,
                  threading.get_ident(), depth)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._local.depth = depth
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, layer: str, fn, extract):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = tracer._current
            if op is not None and op.kind == layer and getattr(tracer._local, "depth", 0) == 0:
                # the benchmark called this operator as the operation itself:
                # the operation is its span
                res = fn(*args, **kwargs)
                if extract is not None:
                    op.attrs.update(extract(res, args, kwargs))
                return res
            before = tracer.job_ids() if layer in JOB_COUNTED else None
            with tracer.span(layer) as sp:
                res = fn(*args, **kwargs)
                if extract is not None:
                    sp.attrs.update(extract(res, args, kwargs))
                if before is not None:
                    sp.attrs.update(tracer.job_counts(tracer.job_ids() - before))
            return res

        return wrapper

    def install(self) -> None:
        """Wrap every function in WRAPPED wherever a module binds it, plus
        ``Table.commit`` and ``Table.commit_with_retry`` on the class."""
        import importlib

        from moonlink_spark.table.catalog import Table

        for _, mod, _, _ in WRAPPED:
            importlib.import_module(mod)
        for layer, mod, name, extract in WRAPPED:
            orig = getattr(sys.modules[mod], name)
            wrapped = self._wrap(layer, orig, extract)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("moonlink_spark") and (
                    getattr(m, name, None) is orig
                ):
                    self._restore.append((m, name, orig))
                    setattr(m, name, wrapped)
        for name, layer in (("commit", "table.catalog.attempt"),
                            ("commit_with_retry", "table.catalog")):
            orig = getattr(Table, name)
            self._restore.append((Table, name, orig))
            setattr(Table, name, self._wrap(layer, orig, None))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"ops": [asdict(o) for o in self.ops],
                 "spans": [asdict(s) for s in self.spans]},
                f,
            )


# ---- per-operation breakdown ---------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, lo0, hi0 = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi0 is None or lo > hi0:
            if hi0 is not None:
                total += hi0 - lo0
            lo0, hi0 = lo, hi
        else:
            hi0 = max(hi0, hi)
    return total + (hi0 - lo0 if hi0 is not None else 0.0)


def breakdown(op: Operation, spans: list[Span]) -> dict:
    """wall = self + covered, where covered is the union of the outermost
    child spans; overlap is the part of their summed time that ran beside
    another child, reported apart and never added to the wall time."""
    top = [(s.start, s.end) for s in spans if s.depth == 0]
    covered = union_length(top)
    wall = op.end - op.start
    return {
        "wall_s": wall,
        "self_s": wall - covered,
        "covered_s": covered,
        "overlap_s": sum(hi - lo for lo, hi in top) - covered,
    }


OPERATOR_FIELDS = {
    "operators.compact": ("bytes_in", "bytes_out", "files_in", "files_out", "spark_jobs"),
    "operators.cluster": ("phash_overlap",),
    "operators.manifest_rewrite": ("manifests_before", "manifests_after"),
    "operators.expire": ("files_deleted",),
    "operators.publish": ("pos_delete_files", "eq_delete_files"),
    "operators.maintenance": (),
}


def layer_metrics(tracer: Tracer) -> tuple[dict, dict]:
    """(per-layer metrics, per-operation-kind breakdown).

    A per-layer metric is the median, over the operations in which the
    layer ran, of the layer's time inside the operation (the union of its
    spans, so nested or concurrent spans of one layer count once) or of
    the per-operation count."""
    by_op: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    vals: dict[str, list[float]] = {}

    def add(name: str, v) -> None:
        if v is not None:
            vals.setdefault(name, []).append(float(v))

    kinds: dict[str, list[dict]] = {}
    for op in tracer.ops:
        spans = by_op.get(op.id, [])
        bd = breakdown(op, spans)
        kinds.setdefault(op.kind, []).append(bd)

        def layer_s(name: str) -> float | None:
            iv = [(s.start, s.end) for s in spans if s.name == name]
            return union_length(iv) if iv else None

        if op.kind == "operators.merge":
            add("operators.merge.wall_s", bd["wall_s"])
            add("operators.merge.self_s", bd["self_s"])
            for k in ("spark_jobs", "spark_stages", "spark_tasks",
                      "candidate_ratio", "bloom_keep_ratio", "match_ratio"):
                add(f"operators.merge.{k}", op.attrs.get(k))
        n_plan = sum(1 for s in spans if s.name == "table.planning")
        if n_plan:
            add("table.planning.plan_s", layer_s("table.planning"))
            add("table.planning.calls", n_plan)
        add("table.bloom.prune_s", layer_s("table.bloom.prune"))
        add("table.scan.plan_s", layer_s("table.scan"))
        if op.kind == "table.scan.mor":
            for k in ("exec_s", "data_files", "delete_files"):
                add(f"table.scan.{k}", op.attrs.get(k))
        if op.kind == "table.scan.post":
            add("table.scan.post_exec_s", op.attrs.get("exec_s"))
        add("table.writer.delete_write_s", layer_s("table.writer.delete"))
        add("table.writer.data_write_s", layer_s("table.writer.data"))
        add("table.writer.eq_write_s", layer_s("table.writer.eq"))
        writes = [s for s in spans if s.name.startswith("table.writer.")]
        if op.kind == "operators.merge" and op.attrs.get("mode") == "eager":
            # the insert write runs on a pool thread beside the probe
            add("table.writer.overlap_s", bd["overlap_s"])
        if writes:
            add("table.writer.bytes_written", sum(s.attrs.get("bytes", 0) for s in writes))
            add("table.writer.files_written", sum(s.attrs.get("files", 0) for s in writes))
        add("table.stats.footer_s", layer_s("table.stats"))
        attempts = [s for s in spans if s.name == "table.catalog.attempt"]
        if attempts:  # commit_with_retry spans enclose their attempts
            add("table.catalog.commit_s", union_length(
                [(s.start, s.end) for s in spans if s.name.startswith("table.catalog")]))
            add("table.catalog.commit_attempts", len(attempts))
        # operator layers: the operation itself when the benchmark called
        # the operator directly, else each span of it (e.g. inside a tick)
        for layer, fields in OPERATOR_FIELDS.items():
            records = [(bd["wall_s"], op.attrs)] if op.kind == layer else []
            records += [(s.end - s.start, s.attrs) for s in spans if s.name == layer]
            wall = "tick_s" if layer == "operators.maintenance" else "wall_s"
            for dur, attrs in records:
                if attrs.get("skipped"):
                    continue  # below its threshold: the call did no work
                add(f"{layer}.{wall}", dur)
                for k in fields:
                    add(f"{layer}.{k}", attrs.get(k))
                if layer == "operators.maintenance":
                    add("operators.maintenance.ticks_triggered",
                        1.0 if attrs.get("triggered") else 0.0)
        if op.kind == "datasource.read":
            add("datasource.read_s", bd["wall_s"])
            add("datasource.partitions", op.attrs.get("partitions"))

    metrics = {k: statistics.median(v) for k, v in vals.items()}
    ticks = vals.get("operators.maintenance.ticks_triggered")
    if ticks:  # a share of ticks, not a median of 0/1 flags
        metrics["operators.maintenance.ticks_triggered"] = sum(ticks) / len(ticks)
    summary = {
        kind: {
            "ops": len(bds),
            **{k: statistics.median(b[k] for b in bds) for k in bds[0]},
        }
        for kind, bds in kinds.items()
    }
    return metrics, summary
