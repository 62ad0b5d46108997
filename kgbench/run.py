"""KG-construction benchmark: the checkpointed pipeline users run.

    python3 kgbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository. One driver process
starts Spark on ``local[$(nproc)]`` and drives a closed loop: one public
engine call in flight at a time, the next started when the last returns,
for ``--seconds``. Each call commits to a fresh snapshot id that is removed
afterwards, and its committed triples are checked against the corpus
goldens. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Lines before it are diagnostics (host facts, one line per
repetition with its CPU steal). See NOTES.md for the workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
from pyspark import SparkContext

import host
import spans

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# corpus shape: 20 turns per conversation (t0, t1, t2, 8 career repeats of
# (t1, t2), t3); sizes keep every run inside the benchmark's time budget
CAREER_REPS = 8
WARM_CONVS = 50
BUILD_CONVS = 600
BASE_CONVS = 150
DELTA_CONVS = 3  # a 2% delta
SETUP_ROUNDS = 2
DRIVER_MEMORY = "2g"
WORKLOADS = ("build", "delta_rescan")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def write_parquet(df, path: str, files: int) -> int:
    """Write the corpus as ``files`` parquet files split on conversation
    boundaries; returns the bytes written."""
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    os.makedirs(path)
    convs = df["conv_id"].unique()
    chunk = -(-len(convs) // files)
    for i in range(files):
        part = df[df["conv_id"].isin(convs[i * chunk : (i + 1) * chunk])]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return sum(st.st_size for st in file_stats(path))


def file_stats(path: str):
    for root, _dirs, names in os.walk(path):
        for n in names:
            yield os.stat(os.path.join(root, n))


def inodes(path: str) -> set[tuple[int, int]]:
    return {(st.st_dev, st.st_ino) for st in file_stats(path)}


def new_bytes(path: str, before: set[tuple[int, int]]) -> int:
    """Bytes of files under ``path`` whose inode did not exist in
    ``before``: hardlinks of earlier files do not count."""
    return sum(st.st_size for st in file_stats(path) if (st.st_dev, st.st_ino) not in before)


def remove_snapshot(warehouse: str, sid: str) -> None:
    """Delete every table level, lineage record and chain pointer of one
    snapshot id."""
    for entry in os.scandir(warehouse):
        if not entry.is_dir():
            continue
        shutil.rmtree(os.path.join(entry.path, f"snapshot={sid}"), ignore_errors=True)
    lineage = os.path.join(warehouse, "_lineage")
    for name in os.listdir(lineage):
        if name.endswith(f"-{sid}.json"):
            os.remove(os.path.join(lineage, name))
    pointer = os.path.join(warehouse, "_incremental", f"{sid}.json")
    if os.path.exists(pointer):
        os.remove(pointer)


class Workload:
    """One workload. ``setup_round`` is one set-up round (inputs plus one
    ``Pipeline.run``), repeated ``SETUP_ROUNDS`` times, which also warms the
    JVM and the Python workers; ``prepare`` finishes the set-up; ``call``
    is the public call the loop times and ``triples`` reads back the
    triples it committed."""

    def __init__(self, spark, work: str, seed: int) -> None:
        from information_extraction_from_biographies_spark.sources.checkpoint import (
            CheckpointStore,
        )

        self.spark = spark
        self.work = work
        self.seed = seed
        self.warehouse = os.path.join(work, "warehouse")
        self.store = CheckpointStore(spark, self.warehouse)
        self.files = os.cpu_count() or 1

    def _frame(self, corpus, name: str):
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        size = write_parquet(corpus.transcripts, path, self.files)
        return self.spark.read.parquet(path), size

    def prepare(self) -> None:
        pass


class Build(Workload):
    def setup_round(self, i: int) -> None:
        """A warm-up build of the corpus' first WARM_CONVS conversations."""
        import corpus as C
        from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

        frame, _ = self._frame(C.make_corpus(0, WARM_CONVS, self.seed, CAREER_REPS), "warm")
        Pipeline(self.spark, self.warehouse, snapshot_id=f"warm{i}").run(frame)
        remove_snapshot(self.warehouse, f"warm{i}")

    def prepare(self) -> None:
        import corpus as C

        self.corpus = C.make_corpus(0, BUILD_CONVS, self.seed, CAREER_REPS)
        self.frame, self.input_bytes = self._frame(self.corpus, "corpus")
        self.turns = self.corpus.turns

    def call(self, sid: str) -> None:
        from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

        Pipeline(self.spark, self.warehouse, snapshot_id=sid).run(self.frame)

    def triples(self, sid: str):
        return self.store.read("stage2_triples", sid)


class DeltaRescan(Workload):
    def setup_round(self, i: int) -> None:
        """Commit the base; the last round's base is the one every
        repetition applies the delta to."""
        import corpus as C
        from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

        base = C.make_corpus(0, BASE_CONVS, self.seed, CAREER_REPS)
        delta = C.make_corpus(BASE_CONVS, DELTA_CONVS, self.seed, CAREER_REPS)
        self.corpus = C.union(base, delta)
        base_frame, _ = self._frame(base, "base")
        self.frame, self.input_bytes = self._frame(delta, "delta")
        self.turns = delta.turns
        if i:
            remove_snapshot(self.warehouse, self.base)
        self.base = f"base{i}"
        Pipeline(self.spark, self.warehouse, snapshot_id=self.base).run(base_frame)

    def call(self, sid: str) -> None:
        from information_extraction_from_biographies_spark.plans.incremental import (
            IncrementalPipeline,
        )

        # rescan="exact" is the default of run() and of maintain()
        IncrementalPipeline(self.spark, self.warehouse, self.base, sid).run(
            self.frame, rescan="exact"
        )

    def triples(self, sid: str):
        from information_extraction_from_biographies_spark.plans.incremental import full_view

        return full_view(self.store, "stage2_triples", sid)


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.reps: list[dict] = []
        self.failed = 0

    def start_session(self):
        from information_extraction_from_biographies_spark.session import get_spark

        cpus = os.cpu_count() or 1
        t0 = time.monotonic()
        spark = get_spark(
            app_name="kgbench",
            master=f"local[{cpus}]",
            shuffle_partitions=2 * cpus,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "catalog"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return spark, time.monotonic() - t0

    def repetition(self, wl, sid: str) -> float:
        """One timed public call plus its checks; returns the wall."""
        before_inodes = inodes(wl.warehouse)
        # start every call from a collected heap on both sides of py4j
        gc.collect()
        wl.spark._jvm.System.gc()
        cpu0 = host.cpu_times()
        t0 = time.monotonic()
        try:
            wl.call(sid)
            wall = time.monotonic() - t0
            steal = host.steal_pct(cpu0, host.cpu_times())
            tri = {(r.subj, r.pred, r.obj) for r in wl.triples(sid).collect()}
            hit = len(tri & wl.corpus.goldens)
            rep = {
                "sid": sid,
                "wall_s": wall,
                "steal_pct": steal,
                "precision": hit / len(tri) if tri else 0.0,
                "recall": hit / len(wl.corpus.goldens),
                "committed_triples": wl.store.lineage("stage2_triples", sid)["total_rows"],
                "stored_bytes": new_bytes(wl.warehouse, before_inodes),
            }
            if rep["precision"] < 1.0 or rep["recall"] < 1.0:
                self.failed += 1
        except Exception:  # noqa: BLE001 - a failed call is counted, the loop goes on
            traceback.print_exc()
            wall = time.monotonic() - t0
            rep = {"sid": sid, "wall_s": wall, "error": True}
            self.failed += 1
        finally:
            remove_snapshot(wl.warehouse, sid)
            wl.spark.catalog.clearCache()
        self.reps.append(rep)
        print("REP " + json.dumps(rep), flush=True)
        return wall

    def run(self) -> dict:
        args = self.args
        tracer = spans.Tracer(f"{args.workload}-{args.seed}")
        with tracer.span("session.start"):
            spark, session_s = self.start_session()
        self.spark = spark
        print(
            "HOST "
            + json.dumps(
                {
                    "nproc": os.cpu_count(),
                    "ram_gb": round(host.ram_gb(), 2),
                    "spark": pyspark.__version__,
                    "python": sys.version.split()[0],
                    "workload": args.workload,
                    "seed": args.seed,
                }
            ),
            flush=True,
        )
        wl = {"build": Build, "delta_rescan": DeltaRescan}[args.workload](
            spark, self.work, args.seed
        )
        rounds = []
        for i in range(SETUP_ROUNDS):
            t0 = time.monotonic()
            wl.setup_round(i)
            spark.catalog.clearCache()
            rounds.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.prepare()
        spark.catalog.clearCache()
        prepare_s = time.monotonic() - t0
        print(
            "SETUP "
            + json.dumps({"session_s": session_s, "rounds_s": rounds, "prepare_s": prepare_s}),
            flush=True,
        )
        setup_s = session_s + statistics.median(rounds) + prepare_s

        jvm_pid = SparkContext._gateway.proc.pid
        with host.RssSampler(os.getpid(), jvm_pid) as rss:
            rss.reset()
            start = time.monotonic()
            n = 0
            while n == 0 or time.monotonic() - start < args.seconds:
                self.repetition(wl, f"rep{n}")
                n += 1
        wall = median_wall(self.reps)
        # the JVM's share of the RSS peak follows G1's adaptive heap sizing
        # and spreads by ~15% between runs, so RSS is a per-layer figure
        tracer.add("host", rss_peak_mb=rss.peak / (1 << 20), **rss.detail)
        print("RSS " + json.dumps(rss.detail), flush=True)

        if args.trace:
            metrics = self.traced(wl, tracer, wall)
        else:
            metrics = end_to_end(setup_s, self.reps, wl.turns, wl.input_bytes)
        return {
            "correct": self.failed == 0,
            "attempted": len(self.reps),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def traced(self, wl, tracer, untraced_wall: float) -> dict:
        """One more repetition with the wrappers, job groups and UDF
        profiler on; returns the per-layer metrics of BENCHMARK.json."""
        spark = self.spark
        inst = spans.Instrumentation(tracer, spark)
        spark.profile.clear()
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        after_job = spans.max_job_id(spark)
        inst.install()
        try:
            inst.job_group("driver", "-")
            traced_wall = self.repetition(wl, "traced")
        finally:
            inst.restore()
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spans.record_spark_stages(tracer, spark, after_job)
        spans.record_udf_profiles(tracer, spark)
        tracer.add(
            "run",
            workload=self.args.workload,
            seed=self.args.seed,
            traced_wall_s=traced_wall,
            untraced_median_s=untraced_wall,
        )
        out = os.path.join(ROOT, ".kgbench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}")
        tracer.write(stem + ".spans.jsonl")
        records = spans.read_records(stem + ".spans.jsonl")
        table = spans.layer_table(records)
        with open(stem + ".layers.md", "w", encoding="utf-8") as f:
            f.write(table + "\n")
        print(table, flush=True)
        measured = spans.layer_metrics(records)
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            listed = json.load(f)["per_layer"]
        return {m["name"]: (measured.get(m["name"], 0.0), m["unit"]) for m in listed}


def median_wall(reps: list[dict]) -> float:
    ok = [r for r in reps if not r.get("error")]
    return statistics.median(r["wall_s"] for r in (ok or reps))


def end_to_end(setup_s: float, reps: list[dict], turns: int, input_bytes: int) -> dict:
    """The end-to-end metrics, name -> (value, unit), from the set-up time
    and the repetitions of one run."""
    ok = [r for r in reps if not r.get("error")]
    wall = median_wall(reps)

    def med(key):
        return statistics.median(r[key] for r in ok) if ok else 0.0

    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (turns / wall, "1/s"),
        "triples_per_s": (med("committed_triples") / wall, "1/s"),
        "triple_precision": (min((r["precision"] for r in ok), default=0.0), "ratio"),
        "triple_recall": (min((r["recall"] for r in ok), default=0.0), "ratio"),
        "stored_bytes_per_input_byte": (med("stored_bytes") / input_bytes, "ratio"),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait for the JVM's
    Python workers to exit."""

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = host.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.wait_gone(kids, timeout_s=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the engine must come from this checkout before anything runs
    import information_extraction_from_biographies_spark as engine

    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        raise SystemExit(f"engine imported from outside the checkout: {engine.__file__}")

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of this process, the JVMs and the Python
    # workers inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None
    # a fixed driver heap: get_spark sizes it from host RAM, which would
    # make GC behaviour depend on the host the benchmark lands on
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
