"""Tracing for the benchmark's traced run.

Spans are recorded from outside the engine: ``Instrumentation`` swaps the
public functions of each module for timing wrappers and puts the originals
back afterwards. Spans stay in memory and are written as one JSON-lines
file together with the Spark stage metrics and the Python UDF profiles of
the same call. ``layer_metrics`` and ``layer_table`` read that file back,
so the per-layer numbers come from the file, not from live state.

Layers (modules of ``information_extraction_from_biographies_spark``):

- ``plans.pipeline`` / ``plans.incremental``: the public ``run`` calls and
  every ``materialize_group`` commit group; ``full_view`` chain reads
- ``sources.checkpoint``: ``commit``, ``commit_partial``, ``read``; each
  commit runs under a Spark job group named after its stage and table
- ``operators.*``: driver-side plan building of every operator function
  the two plan modules call, and ``scan.build_surface_index``
- Spark engine: task metrics per pipeline stage, from the status store
- Python kernels: ``spark.sql.pyspark.udf.profiler=perf`` per UDF
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import itertools
import json
import os
import re
import threading
import time
from collections import defaultdict

PKG = "information_extraction_from_biographies_spark"

# the pipeline stage each committed table belongs to; ``cooccurrence`` is
# a stage-4 output even though it commits in the stage-2 group
STAGE_OF = {
    "stage0_turns": "stage0",
    "stage0_meta": "stage0",
    "replaced_convs": "stage0",
    "gram_stops": "stage1",
    "turn_grams": "stage1",
    "stage1_names": "stage1",
    "stage1_aliases": "stage1",
    "registry_bits": "registry",
    "stage1_people": "registry",
    "stage1_alias_registry": "registry",
    "excluded_convs": "stage2",
    "stage2_mentions": "stage2",
    "stage2_triples": "stage2",
    "stage2_timeline": "stage2",
    "cc_labels": "stage3",
    "cc_members": "stage3",
    "stage3_entities": "stage3",
    "nodes": "stage4",
    "edges": "stage4",
    "cooccurrence": "stage4",
    "timeline": "stage4",
}
OPERATOR_MODULES = ("normalize", "mentions", "stage2", "canonicalize", "graph", "postings")


def stage_of(table: str) -> str:
    return STAGE_OF.get(table, "other")


class Tracer:
    """In-memory span recorder. A span opened on a thread with no open
    span of its own (a commit-group worker thread) takes the open commit
    group as its parent."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.t0 = time.monotonic()
        self.records: list[dict] = []
        self.group_parent: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.group_parent
        sid = next(self._ids)
        rec = {
            "kind": "span",
            "id": sid,
            "parent": parent,
            "name": name,
            "run": self.run_id,
            "thread": threading.get_ident(),
            "start": time.monotonic() - self.t0,
            "attrs": attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic() - self.t0
            with self._lock:
                self.records.append(rec)

    def add(self, kind: str, **fields) -> None:
        with self._lock:
            self.records.append({"kind": kind, "run": self.run_id, **fields})

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in sorted(self.records, key=lambda r: r.get("start", 0.0)):
                f.write(json.dumps(rec, ensure_ascii=False) + "\n")


def _fresh_bytes(path: str) -> tuple[int, int]:
    """Files and bytes under ``path`` that are not hardlinks of another
    snapshot's files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_nlink == 1:
                files += 1
                size += st.st_size
    return files, size


def called_operators(plan_modules) -> dict[str, set[str]]:
    """Operator functions the plan modules call as ``<module>.<name>(``."""
    pat = re.compile(r"\b(" + "|".join(OPERATOR_MODULES) + r")\.([a-z]\w*)\(")
    found: dict[str, set[str]] = defaultdict(set)
    for mod in plan_modules:
        for m, fn in pat.findall(inspect.getsource(mod)):
            found[m].add(fn)
    return found


class Instrumentation:
    """Installs the timing wrappers and the job-group tagging; ``restore``
    puts every original attribute back."""

    def __init__(self, tracer: Tracer, spark) -> None:
        self.tracer = tracer
        self.sc = spark.sparkContext
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def job_group(self, stage: str, table: str) -> None:
        self.sc.setJobGroup(f"{self.tracer.run_id}|{stage}|{table}", table)

    def _timed(self, name: str):
        tracer = self.tracer

        def make(orig):
            def wrapped(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

            return wrapped

        return make

    def install(self) -> None:
        pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
        incremental = importlib.import_module(f"{PKG}.plans.incremental")
        checkpoint = importlib.import_module(f"{PKG}.sources.checkpoint")
        scan = importlib.import_module(f"{PKG}.operators.scan")
        tracer = self.tracer

        self._patch(pipeline.Pipeline, "run", self._timed("pipeline.run"))
        self._patch(incremental.IncrementalPipeline, "run", self._timed("incremental.run"))
        self._patch(incremental, "full_view", self._timed("incremental.full_view"))

        def group(orig):
            def wrapped(materialize, specs, *args, **kwargs):
                tables = [s[0] for s in specs]
                with tracer.span("plans.group", stage=stage_of(tables[0]), tables=tables) as rec:
                    outer, tracer.group_parent = tracer.group_parent, rec["id"]
                    try:
                        return orig(materialize, specs, *args, **kwargs)
                    finally:
                        tracer.group_parent = outer

            return wrapped

        self._patch(pipeline, "materialize_group", group)

        def commit(kind):
            def make(orig):
                def wrapped(store, df, table, snapshot_id, *args, **kwargs):
                    stage = stage_of(table)
                    plan_chars = len(df._jdf.queryExecution().logical().toString())
                    self.job_group(stage, table)
                    try:
                        with tracer.span(
                            f"checkpoint.{kind}", table=table, stage=stage, plan_chars=plan_chars
                        ) as rec:
                            path = orig(store, df, table, snapshot_id, *args, **kwargs)
                            files, size = _fresh_bytes(path)
                            lineage = store._lineage_path(table, snapshot_id)
                            rec["attrs"].update(
                                files=files + 1, bytes=size + os.path.getsize(lineage)
                            )
                            return path
                    finally:
                        self.job_group("driver", "-")

                return wrapped

            return make

        self._patch(checkpoint.CheckpointStore, "commit", commit("commit"))
        self._patch(checkpoint.CheckpointStore, "commit_partial", commit("commit_partial"))
        self._patch(checkpoint.CheckpointStore, "read", self._timed("checkpoint.read"))

        def surface_index(orig):
            def wrapped(*args, **kwargs):
                with tracer.span("scan.build_surface_index") as rec:
                    index = orig(*args, **kwargs)
                    rec["attrs"]["surfaces"] = len(getattr(index, "rows", ()))
                    return index

            return wrapped

        self._patch(scan, "build_surface_index", surface_index)
        for mod, names in called_operators([pipeline, incremental]).items():
            module = importlib.import_module(f"{PKG}.operators.{mod}")
            for fn in sorted(names):
                if callable(getattr(module, fn, None)):
                    self._patch(module, fn, self._timed(f"{mod}.plan"))


# ------------------------------------------------------- Spark metrics ---
def _java_list(jvm, seq):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def max_job_id(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = _java_list(spark._jvm, jsc.statusStore().jobsList(None))
    return max([jobs.get(i).jobId() for i in range(jobs.size())], default=-1)


def record_spark_stages(tracer: Tracer, spark, after_job: int) -> None:
    """One ``spark_stage`` record per stage of every job newer than
    ``after_job``, tagged with the pipeline stage of its job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jvm = spark._jvm
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = _java_list(jvm, store.jobsList(None))
    owner: dict[int, str] = {}
    for i in range(jobs.size()):
        job = jobs.get(i)
        if job.jobId() <= after_job:
            continue
        group = job.jobGroup().get() if job.jobGroup().isDefined() else None
        stage = "driver"
        if group and group.startswith(tracer.run_id + "|"):
            stage = group.split("|")[1]
        ids = _java_list(jvm, job.stageIds())
        for k in range(ids.size()):
            owner.setdefault(int(ids.get(k)), stage)
    al = jvm.java.util.ArrayList
    stages = _java_list(
        jvm, store.stageList(al(), False, False, sc._gateway.new_array(jvm.double, 0), al())
    )
    for i in range(stages.size()):
        s = stages.get(i)
        sid = int(s.stageId())
        if sid not in owner:
            continue
        tracer.add(
            "spark_stage",
            stage_id=sid,
            attempt=int(s.attemptId()),
            status=s.status().toString(),
            stage=owner[sid],
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_write_bytes=int(s.shuffleWriteBytes()),
            shuffle_read_bytes=int(s.shuffleReadBytes()),
            spill_bytes=int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            tasks=int(s.numTasks()),
            failed_tasks=int(s.numFailedTasks()),
        )


# ------------------------------------------------------ Python kernels ---
def _package_files() -> set[str]:
    """Basenames of the engine's source files (the perf profiler reports
    code locations by basename)."""
    root = os.path.dirname(importlib.import_module(PKG).__file__)
    return {n for _r, _d, names in os.walk(root) for n in names if n.endswith(".py")}


def record_udf_profiles(tracer: Tracer, spark) -> None:
    """One ``udf`` record per profiled UDF, named after the engine function
    with the largest cumulative time below the ``grouped_map`` adapter,
    with its total profiled time and the part spent in PySpark's Arrow
    serializers (the UDF boundary)."""
    engine = _package_files() - {"grouped.py"}
    results = spark._profiler_collector._perf_profile_results
    for udf_id, stats in sorted(results.items()):
        name, best, serde = f"udf{udf_id}", -1.0, 0.0
        for (path, _line, func), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            base = os.path.basename(path)
            if base == "serializers.py":
                serde = max(serde, ct)
            if base in engine and func.isidentifier() and ct > best:
                name, best = f"{base[:-3]}.{func}", ct
        top = sorted(stats.stats.items(), key=lambda kv: -kv[1][3])[:8]
        tracer.add(
            "udf",
            udf_id=udf_id,
            name=name,
            total_s=stats.total_tt,
            serde_s=serde,
            top=[[path, func, ct] for (path, _line, func), (_cc, _nc, _tt, ct, _c) in top],
        )


# ------------------------------------------------- per-layer summaries ---
def read_records(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_metrics(records: list[dict]) -> dict[str, float]:
    """Every per-layer metric the span file supports, by name."""
    spans = [r for r in records if r["kind"] == "span"]
    by_id = {s["id"]: s for s in spans}
    m: dict[str, float] = defaultdict(float)

    def dur(s):
        return s["end"] - s["start"]

    def outermost(s):
        """No ancestor has the same name (recursive or nested calls)."""
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                return False
            p = by_id[p]["parent"]
        return True

    for s in spans:
        name, a = s["name"], s["attrs"]
        if name == "session.start":
            m["session.start_s"] += dur(s)
        elif name in ("pipeline.run", "incremental.run"):
            m[f"{name}_s"] += dur(s)
            m["plans.run_s"] += dur(s)
        elif name == "plans.group":
            m["plans.groups"] += 1
            m[f"pipeline.{a['stage']}.group_s"] += dur(s)
        elif name == "incremental.full_view" and outermost(s):
            m["incremental.full_view_calls"] += 1
            m["incremental.full_view_s"] += dur(s)
        elif name in ("checkpoint.commit", "checkpoint.commit_partial"):
            m["checkpoint.commits" if name == "checkpoint.commit" else "checkpoint.commit_partials"] += 1
            m[f"checkpoint.{a['stage']}.commit_s"] += dur(s)
            m["checkpoint.files_written"] += a["files"]
            m["checkpoint.bytes_written"] += a["bytes"]
            m["checkpoint.plan_chars_max"] = max(m["checkpoint.plan_chars_max"], a["plan_chars"])
        elif name == "checkpoint.read":
            m["checkpoint.reads"] += 1
            m["checkpoint.read_s"] += dur(s)
        elif name == "scan.build_surface_index":
            m["scan.build_surface_index_s"] += dur(s)
            m["scan.surfaces"] += a["surfaces"]
        elif name.endswith(".plan") and outermost(s):
            mod = name[: -len(".plan")]
            m[f"{mod}.plan_s"] += dur(s)
            m[f"{mod}.calls"] += 1
    for r in records:
        if r["kind"] == "spark_stage":
            st = r["stage"]
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                m[f"spark.{st}.{k}"] += r[k]
            m["spark.shuffle_read_bytes"] += r["shuffle_read_bytes"]
            m["spark.spill_bytes"] += r["spill_bytes"]
            m["spark.gc_s"] += r["gc_s"]
            m["spark.tasks"] += r["tasks"]
            m["spark.failed_tasks"] += r["failed_tasks"]
        elif r["kind"] == "udf":
            m[f"udf.{r['name']}_s"] += r["total_s"]
            m["udf.total_s"] += r["total_s"]
            m["udf.serde_s"] += r["serde_s"]
        elif r["kind"] == "host":
            m["host.rss_peak_mb"] = r["rss_peak_mb"]
            m["host.rss_java_mb"] = r["java_mb"]
            m["host.rss_python_mb"] = r["python_mb"]
            m["host.python_procs"] = r["python_procs"]
        elif r["kind"] == "run":
            m["trace.traced_wall_s"] = r["traced_wall_s"]
            m["trace.untraced_median_s"] = r["untraced_median_s"]
            m["trace.overhead_s"] = r["traced_wall_s"] - r["untraced_median_s"]
    return dict(m)


def layer_table(records: list[dict]) -> str:
    """Markdown per-layer table: per span name its calls, total and self
    time, then the Spark stages and UDFs, then the tracing overhead."""
    spans = [r for r in records if r["kind"] == "span"]
    selfs = self_times(spans)
    agg: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        a = agg[s["name"]]
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += selfs[s["id"]]
    lines = ["| span | calls | total_s | self_s |", "|---|---:|---:|---:|"]
    for name, (n, tot, slf) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"| {name} | {n} | {tot:.3f} | {slf:.3f} |")
    m = layer_metrics(records)
    lines += ["", "| metric | value |", "|---|---:|"]
    for k in sorted(m):
        if k.startswith(("spark.", "udf.", "trace.", "host.")):
            lines.append(f"| {k} | {m[k]:.6g} |")
    return "\n".join(lines)
