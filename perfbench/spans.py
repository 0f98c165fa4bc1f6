"""In-memory span tracing around the engine's public entry points.

The wrappers live here, in the benchmark, not in the program: ``install``
replaces each named function or method with a timing shim and
``uninstall`` puts the originals back. Each span records its name, start,
end, parent span and the op it belongs to. Spans that may launch Spark
work run under their own Spark job group, so jobs, tasks, executor time
and shuffle bytes are attributed per span after each op from
``statusTracker`` and the driver's status store (read over py4j once the
listener bus has drained, outside every timed region).

In this traced mode only, the ``operators`` wrappers count their inputs
and outputs, so each operator's span holds the computation of its own
result instead of whichever later action happens to execute its lazy
plan. They do not persist the outputs: with every operator output cached,
the decontamination join ran out of a 3 GB driver heap on 150 documents.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

# Spans with these names (or prefixes) never launch Spark work; they skip
# the job-group bookkeeping (two py4j calls each) to keep tracing cheap.
_NO_JOBS = (
    "storage.", "checkpoint.store.", "table.commits", "table.latest_commit",
    "table.current_files", "table.effective_schema",
)
_STAT_KEYS = ("jobs", "tasks", "failed_tasks", "executor_s", "shuffle_bytes")


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    # inclusive Spark stats (this span's group plus its descendants')
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._restore: list[tuple[object, str, object]] = []
        self._objs: dict[int, tuple] = {}  # upsert span id -> (table, df)
        self._op_start = 0  # index into spans of the current op's first span
        self.spark = None
        self.op = 0  # current op id; 0 = setup, -1 = after the loop
        self.paused = False
        self.op_wall: dict[int, float] = {}
        self.op_spark: dict[int, dict] = {}
        self.op_kinds: dict[int, str] = {}
        self.reads: list[float] = []  # pruning yield of each point read

    # -- spans ---------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        if group is None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark.sparkContext.setJobGroup(group, group)

    def _outer_group(self) -> str | None:
        for s in reversed(self._stack):
            if s.group is not None:
                return s.group
        return f"pb-op-{self.op}" if self.op > 0 else None

    def call(self, name: str, fn, args, kwargs):
        if self.paused:
            return fn(*args, **kwargs)
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), parent, self.op, name, 0.0)
        outer = self._outer_group()
        if self.spark is not None and not name.startswith(_NO_JOBS):
            span.group = f"pb-span-{span.id}"
            self._set_group(span.group)
        self._stack.append(span)
        span.start = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if span.group is not None:
                self._set_group(outer)
            self.spans.append(span)
        self._annotate(span, args, out)
        return out

    def _annotate(self, span: Span, args, out) -> None:
        name = span.name
        if name == "storage.read_text":
            span.attrs["bytes"] = len(out)
        elif name in ("storage.write_text", "storage.create_text"):
            span.attrs["bytes"] = len(args[2])
        elif name.startswith(("table.", "services.")) and args:
            t = getattr(args[0], "t", args[0])  # TableServices holds .t
            meta = getattr(t, "meta", None)
            if isinstance(meta, dict):
                span.attrs["table"] = meta.get("table_name")
            commits = ("table.upsert", "services.cluster_small_files")
            if name in commits and out and self.op > 0:
                span.attrs["commit"] = out
                self._objs[span.id] = (t, args[1] if name == "table.upsert" else None)

    def begin_op(self, op: int) -> None:
        """Open op ``op``: jobs launched directly by the benchmark (for
        example the collect of a lazy read) land in the op's own group."""
        self.op = op
        self._op_start = len(self.spans)
        self._set_group(f"pb-op-{op}")
        self.op_wall[op] = -time.perf_counter()

    def end_op(self) -> None:
        """Close the op and, outside its timed region, collect its Spark
        stats and commit details."""
        op = self.op
        self.op_wall[op] += time.perf_counter()
        self._set_group(None)
        self.paused = True
        try:
            spans = self.spans[self._op_start:]
            stats = self._spark_stats([s.group for s in spans if s.group] + [f"pb-op-{op}"])
            by_id = {s.id: s for s in spans}
            for s in spans:  # children end before parents: inclusive sums
                own = stats.get(s.group) or dict.fromkeys(_STAT_KEYS, 0)
                for k in _STAT_KEYS:
                    s.spark[k] = s.spark.get(k, 0) + own[k]
                p = by_id.get(s.parent)
                if p is not None:
                    for k in _STAT_KEYS:
                        p.spark[k] = p.spark.get(k, 0) + s.spark[k]
            total = dict(stats.get(f"pb-op-{op}") or dict.fromkeys(_STAT_KEYS, 0))
            for s in spans:
                if s.parent is None:
                    for k in _STAT_KEYS:
                        total[k] += s.spark[k]
            self.op_spark[op] = total
            for sid, (table, df) in self._objs.items():
                self._commit_details(by_id[sid], table, df)
            self._objs.clear()
        finally:
            self.paused = False

    def _commit_details(self, span: Span, table, df) -> None:
        """Files and rows a commit wrote, read from its manifest."""
        commit = span.attrs["commit"]
        with open(os.path.join(table.path, "_commits", f"{commit}.json"), encoding="utf-8") as f:
            m = json.load(f)
        added = m.get("files_added", [])
        span.attrs["files_rewritten"] = len(m.get("files_removed", []))
        span.attrs["rows_written"] = sum(e.get("rows") or 0 for e in added)
        span.attrs["bytes_written"] = sum(
            os.path.getsize(os.path.join(table.path, e["path"])) for e in added
        )
        if df is None:
            return
        # landed batches: their Parquet files give the batch's rows and bytes
        files = [f.removeprefix("file:") for f in df.inputFiles()]
        if files and all(os.sep + "inputs" + os.sep in f for f in files):
            span.attrs["batch_rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            span.attrs["batch_bytes"] = sum(os.path.getsize(f) for f in files)

    # -- installation --------------------------------------------------

    def _patch(self, owner, attr: str, name: str, wrap_result=None) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        target = wrap_result(fn) if wrap_result else fn
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            return tracer.call(name, target, args, kwargs)

        setattr(owner, attr, kind(shim) if kind else shim)
        self._restore.append((owner, attr, raw))

    def _patch_public(self, cls, prefix: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_") or isinstance(raw, property):
                continue
            if callable(raw) or isinstance(raw, (classmethod, staticmethod)):
                self._patch(cls, attr, f"{prefix}.{attr}")

    def _counted(self, fn):
        """Operator shim for the traced run: count the input and the
        output so the operator's own span holds its work."""
        tracer = self

        @functools.wraps(fn)
        def run(*args, **kwargs):
            span = tracer._stack[-1]
            df_in = next((a for a in args if isinstance(a, DataFrame)), None)
            if df_in is not None:
                span.attrs["rows_in"] = df_in.count()
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                span.attrs["rows_out"] = out.count()
            return out

        return run

    def install(self, pkg) -> None:
        """Wrap the public entry points of every layer the benchmark
        reports. ``pkg`` is the engine's top-level package."""
        import importlib

        mod = lambda m: importlib.import_module(f"{pkg.__name__}.{m}")  # noqa: E731
        table, storage = mod("table"), mod("storage")
        self._patch_public(table.Table, "table")
        self._patch_public(table.TableServices, "services")
        self._patch_public(storage.LocalFS, "storage")
        loaders = mod("sources.loaders").Loaders
        self._patch(loaders, "load", "sources.loaders.load")
        self._patch(loaders, "commit_checkpoints", "sources.loaders.commit")
        ckpt = mod("checkpoint")
        self._patch_public(ckpt.CheckpointStore, "checkpoint.store")
        self._patch_public(ckpt.IncrementalReader, "checkpoint.reader")
        pipeline = mod("pipeline")
        self._patch(pipeline, "run_pipeline", "pipeline.run")
        self._patch(pipeline, "build_corpus", "pipeline.build_corpus")
        self._patch(mod("sql_session").SqlSession, "sql", "sql_session.sql")
        self._patch(mod("session"), "build_session", "session.build")
        # build_corpus reaches its operators through module attributes
        # (``D.exact_dedup``, ``Q.check``) and one name bound into the
        # pipeline module (``domain_mix_sample``); patch where it looks.
        dedup, quality = mod("operators.dedup"), mod("operators.quality")
        for owner, attr, name in [
            (quality, "check", "operators.quality_check"),
            (dedup, "exact_dedup", "operators.exact_dedup"),
            (dedup, "ngram_jaccard_pairs", "operators.ngram_jaccard_pairs"),
            (dedup, "keep_representative", "operators.keep_representative"),
            (dedup, "contamination_pairs", "operators.contamination_pairs"),
            (pipeline, "domain_mix_sample", "operators.domain_mix_sample"),
        ]:
            self._patch(owner, attr, name, wrap_result=self._counted)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            setattr(owner, attr, raw)
        self._restore.clear()

    # -- Spark attribution ---------------------------------------------

    def _spark_stats(self, groups: list[str]) -> dict[str, dict]:
        """{group: {jobs, tasks, failed_tasks, executor_s, shuffle_bytes}};
        waits for the listener bus so the status store is complete."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        out = {}
        for g in groups:
            jobs = tracker.getJobIdsForGroup(g)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            st = dict.fromkeys(_STAT_KEYS, 0)
            st["jobs"] = len(jobs)
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                st["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                st["failed_tasks"] += sd.numFailedTasks()
                st["executor_s"] += sd.executorRunTime() / 1000.0
                st["shuffle_bytes"] += sd.shuffleWriteBytes()
            out[g] = st
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        selft = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                    "start": s.start, "end": s.end, "self": selft[s.id],
                    **s.attrs, **{f"spark_{k}": v for k, v in s.spark.items()},
                }) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by its
    direct children (children of one span never overlap: one thread)."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    return {s.id: s.dur - child.get(s.id, 0.0) for s in spans}


# -- per-layer metrics ------------------------------------------------------


def layer_metrics(tr: Tracer, wl, cores: int) -> dict[str, dict]:
    """Every per-layer metric of the traced run, ``{name: {value, unit}}``.
    Per-op metrics are means over the timed ops; per-commit and per-call
    metrics are medians over the calls made during timed ops."""
    ops = sorted(o for o in tr.op_wall if o > 0)
    loop = [s for s in tr.spans if s.op > 0]
    selft = self_times(tr.spans)
    out: dict[str, dict] = {}

    def put(name, value, unit):
        out[name] = {"value": value, "unit": unit}

    def med(values):
        return statistics.median(values) if values else 0.0

    def per_op(fn):
        return sum(fn(o) for o in ops) / len(ops) if ops else 0.0

    by_op: dict[int, list[Span]] = {}
    for s in loop:
        by_op.setdefault(s.op, []).append(s)

    def named(prefix):
        return [s for s in loop if s.name == prefix or s.name.startswith(prefix + ".")]

    def count(o, *names):
        return sum(1 for s in by_op.get(o, []) if s.name in names)

    def outer_time(o, prefix):
        """Time in spans under ``prefix`` not nested in another such span."""
        spans = by_op.get(o, [])
        ids = {s.id for s in spans if s.name.startswith(prefix)}
        return sum(s.dur for s in spans if s.id in ids and s.parent not in ids)

    session = [s for s in tr.spans if s.name == "session.build"]
    put("session.build_s", session[0].dur if session else 0.0, "s")

    # sources.loaders, checkpoint, pipeline (medallion_incremental)
    put("sources.loaders.load_s", med([s.dur for s in named("sources.loaders.load")]), "s")
    put("sources.loaders.commit_s", med([s.dur for s in named("sources.loaders.commit")]), "s")
    store_calls = ("checkpoint.store.get", "checkpoint.store.put", "checkpoint.store.delete")
    put("checkpoint.ops", per_op(lambda o: count(o, *store_calls)), "count")
    put("checkpoint.busy_s", per_op(lambda o: outer_time(o, "checkpoint.")), "s")
    runs = named("pipeline.run")
    put("pipeline.run_s", med([s.dur for s in runs]), "s")
    put("pipeline.self_s", med([selft[s.id] for s in runs]), "s")

    # table write path, per commit, overall and split by target table
    ups = named("table.upsert")
    for suffix, group in [("", ups)] + sorted(
        (f".{t}", [s for s in ups if s.attrs.get("table") == t])
        for t in {s.attrs.get("table") for s in ups}
    ):
        def ratio(a, b, group=group):
            return med([s.attrs[a] / s.attrs[b] for s in group if s.attrs.get(b)])

        put(f"table.upsert_s{suffix}", med([s.dur for s in group]), "s")
        put(f"table.upsert.spark_jobs{suffix}", med([s.spark["jobs"] for s in group]), "count")
        put(f"table.upsert.spark_tasks{suffix}", med([s.spark["tasks"] for s in group]), "count")
        put(f"table.upsert.core_busy_ratio{suffix}",
            med([s.spark["executor_s"] / (s.dur * cores) for s in group]), "ratio")
        put(f"table.upsert.files_rewritten{suffix}",
            med([s.attrs.get("files_rewritten", 0) for s in group]), "count")
        put(f"table.upsert.rows_written_per_row{suffix}", ratio("rows_written", "batch_rows"), "ratio")
        put(f"table.upsert.bytes_written_per_byte{suffix}", ratio("bytes_written", "batch_bytes"), "ratio")
        put(f"table.upsert.shuffle_bytes{suffix}", med([s.spark["shuffle_bytes"] for s in group]), "bytes")

    # table timeline
    put("table.current_files_s", per_op(lambda o: outer_time(o, "table.current_files")), "s")
    put("table.current_files_calls", per_op(lambda o: count(o, "table.current_files")), "count")
    put("table.commits_calls", per_op(lambda o: count(o, "table.commits")), "count")
    tr.paused = True
    try:
        live = sum(len(t.current_files()) for t in getattr(wl, "final_files", {}))
    finally:
        tr.paused = False
    put("table.live_files", live, "count")

    # table read path and the SQL front end (read_mix)
    put("table.read_where_s", med([s.dur for s in named("table.read_where")]), "s")
    lookups = [o for o in ops if tr.op_kinds.get(o) == "lookup"]
    put("table.read.spark_jobs", med([tr.op_spark[o]["jobs"] for o in lookups]), "count")
    put("table.read.files_scanned_ratio", med(tr.reads), "ratio")
    put("table.incremental_s", med([s.dur for s in named("table.incremental")]), "s")
    sqls = named("sql_session.sql")
    put("sql_session.sql_s", med([s.dur for s in sqls]), "s")
    put("sql_session.self_s", med([selft[s.id] for s in sqls]), "s")

    # table services
    put("services.cluster_s", med([s.dur for s in named("services.cluster_small_files")]), "s")
    put("services.clean_s", med([s.dur for s in named("services.clean")]), "s")
    put("services.archive_s", med([s.dur for s in named("services.archive_timeline")]), "s")
    put("services.rows_rewritten", per_op(lambda o: sum(
        s.attrs.get("rows_written", 0) for s in by_op.get(o, [])
        if s.name == "services.cluster_small_files")), "count")

    # storage, per op
    put("storage.reads", per_op(lambda o: count(o, "storage.read_text")), "count")
    put("storage.read_bytes", per_op(lambda o: sum(
        s.attrs.get("bytes", 0) for s in by_op.get(o, []) if s.name == "storage.read_text")), "bytes")
    put("storage.writes", per_op(lambda o: count(o, "storage.write_text", "storage.create_text")), "count")
    put("storage.lists", per_op(lambda o: count(o, "storage.list", "storage.glob")), "count")
    put("storage.exists", per_op(lambda o: count(o, "storage.exists")), "count")
    put("storage.busy_s", per_op(lambda o: outer_time(o, "storage.")), "s")

    # operators (corpus_build), per build
    for op_name in ("quality_check", "exact_dedup", "ngram_jaccard_pairs",
                    "keep_representative", "contamination_pairs", "domain_mix_sample"):
        spans = named(f"operators.{op_name}")
        put(f"operators.{op_name}_s", med([s.dur for s in spans]), "s")
        put(f"operators.{op_name}.rows_in", med([s.attrs.get("rows_in", 0) for s in spans]), "count")
        put(f"operators.{op_name}.rows_out", med([s.attrs.get("rows_out", 0) for s in spans]), "count")
    put("operators.near_dup_pairs",
        med([s.attrs.get("rows_out", 0) for s in named("operators.ngram_jaccard_pairs")]), "count")

    # Spark runtime over the timed ops
    put("spark.jobs", per_op(lambda o: tr.op_spark[o]["jobs"]), "count")
    put("spark.tasks", per_op(lambda o: tr.op_spark[o]["tasks"]), "count")
    put("spark.shuffle_write_bytes", per_op(lambda o: tr.op_spark[o]["shuffle_bytes"]), "bytes")
    put("spark.failed_tasks", per_op(lambda o: tr.op_spark[o]["failed_tasks"]), "count")
    wall = sum(tr.op_wall[o] for o in ops)
    busy = sum(tr.op_spark[o]["executor_s"] for o in ops)
    put("spark.core_busy_ratio", busy / (wall * cores) if wall else 0.0, "ratio")
    return out
