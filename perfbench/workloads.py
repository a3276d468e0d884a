"""The benchmark's workloads: planned-mode pipelines driven through the
package's public API, one batch in flight (a closed loop with one client).

Each workload has a set-up (seed the tables the pipeline writes into), a
measured loop of batches, and a correctness check that runs after the
loop, outside every timed window.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import benchmath as bm
import gen
from spans import SparkStats, Tracer, dir_bytes, snapshot

from polars_incremental_spark import mv, patterns
from polars_incremental_spark.observability import BaseObserver
from polars_incremental_spark.pipeline import Pipeline
from polars_incremental_spark.sinks import delta
from polars_incremental_spark.sources.base import FilesSource

# Set-up is repeated this many times per run and its median reported.
SETUP_REPS = 3
# Median seconds of ``box_probe()`` on the reference box, a 4-core VM.
# End-to-end timings are scaled by PROBE_REF_S / (the run's median probe),
# i.e. reported as the time they would have taken on the reference box;
# see README "Box scaling".
PROBE_REF_S = 0.028

DEDUPE_KEY = ["l_orderkey", "l_linenumber"]
MV_GROUPS = ["l_returnflag", "l_linestatus"]
MV_SUMS = ["l_quantity"]
CDC_KEY = ["o_orderkey"]

# Span names of the pipeline stages the observer reports.
STAGE_SPANS = {
    "plan": "checkpoints.plan",
    "read": "sources.read",
    "transform": "pipeline.transform",
    "write": "pipeline.write",
    "commit": "checkpoints.commit",
}


@dataclass
class Batch:
    sid: int
    batch_id: int | None = None
    wall: float = 0.0
    epoch: tuple[float, float] = (0.0, 0.0)
    rows_in: int = 0
    bytes_in: int = 0
    hook_s: float = 0.0  # benchmark time spent after this batch committed
    probe_s: float = 0.0  # box_probe() right after this batch
    layer: dict = field(default_factory=dict)


class BatchObserver(BaseObserver):
    """Turns ``PipelineObserver`` stage events into batch and stage spans,
    and runs the benchmark's per-batch bookkeeping after each commit."""

    def __init__(self, run: "Run") -> None:
        self.run = run
        self.batch: Batch | None = None
        self.epoch_start = 0.0
        self.stage_sid: int | None = None

    def on_stage_start(self, stage: str, batch_id: int | None) -> None:
        tr = self.run.tracer
        if stage == "plan":
            self.batch = Batch(sid=tr.start("batch", None))
            self.epoch_start = time.time()
        self.stage_sid = tr.start(STAGE_SPANS.get(stage, f"pipeline.{stage}"), self.batch.sid)

    def on_stage_end(self, stage: str, batch_id: int | None, duration_s: float) -> None:
        self.run.tracer.end(self.stage_sid)
        self.stage_sid = None

    def on_batch_planned(self, batch_id: int, n_files: int) -> None:
        self.batch.batch_id = batch_id

    def on_batch_committed(self, batch_id: int, metadata: dict) -> None:
        span = self.run.tracer.end(self.batch.sid, batch=batch_id)
        t0 = time.perf_counter()
        b = self.batch
        b.wall = span["end"] - span["start"]
        b.epoch = (self.epoch_start, time.time())
        self.run.batches.append(b)
        self.run.after_batch(b)
        b.hook_s = time.perf_counter() - t0
        self.batch = None

    def on_error(self, stage: str, batch_id: int | None, error: BaseException) -> None:
        tr = self.run.tracer
        if self.stage_sid is not None:
            tr.end(self.stage_sid, error=repr(error))
            self.stage_sid = None
        if self.batch is not None:
            tr.end(self.batch.sid, error=repr(error))
            self.batch = None


class Run:
    """One workload run: its directories, spans, batches and counters."""

    name = ""
    sink = ""  # the table key in ``tables`` the pipeline writes
    # Batches at the start of a run that pay JIT and cache fill; every
    # steady-window metric skips them.
    warmup_batches = 0

    def __init__(self, spark, inputs: str, manifest: dict, work: str, *,
                 trace: bool) -> None:
        self.spark = spark
        self.inputs = inputs
        self.manifest = manifest
        self.files = {f["name"]: f for f in manifest["files"]}
        self.work = work
        self.trace = trace
        self.tracer = Tracer()
        self.batches: list[Batch] = []
        self.ops = bm.OpCounter()
        self.snapshots: list[dict] = []
        self.stats: SparkStats | None = None
        self.warmup_s: list[float] = []
        self.seed_s: list[float] = []
        self.setup_probes: list[float] = []
        self.tables: dict[str, str] = {}

    # ------------------------------------------------------------- set-up
    def setup(self) -> float:
        """Warm-up job plus table seeding, ``SETUP_REPS`` times into fresh
        directories; the last set is the one the run writes into. Returns
        the median seconds of one repetition."""
        for rep in range(SETUP_REPS):
            root = os.path.join(self.work, f"setup{rep}")
            self.setup_probes.append(box_probe(self.spark))
            t0 = time.perf_counter()
            warmup(self.spark)
            t1 = time.perf_counter()
            tables = self.seed_tables(root)
            t2 = time.perf_counter()
            self.warmup_s.append(t1 - t0)
            self.seed_s.append(t2 - t1)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(root)
            else:
                self.tables = tables
                self.root = root
        return bm.median([w + s for w, s in zip(self.warmup_s, self.seed_s)])

    def seed_tables(self, root: str) -> dict[str, str]:
        raise NotImplementedError

    # ------------------------------------------------------------ measure
    def pipeline(self, observer: BatchObserver) -> Pipeline:
        raise NotImplementedError

    def measure(self, n_batches: int) -> None:
        """Run ``n_batches`` batches in one ``Pipeline.run`` loop. The count
        is fixed, so every run measures the same window; a program too slow
        to finish them is stopped by the runner's watchdog and reports
        nothing."""
        if self.trace:
            self.stats = SparkStats(self.spark)
        self.snapshots.append(snapshot(self.root))
        observer = BatchObserver(self)
        try:
            self.pipeline(observer).run(self.spark, max_batches=n_batches)
        except Exception as exc:  # a failed batch is a failed operation
            print(f"batch failed: {exc!r}", file=sys.stderr)
            self.ops.batch(False, f"batch: {exc!r}")
        for _ in self.batches:
            self.ops.batch(True)

    def after_batch(self, b: Batch) -> set[str]:
        """Per-batch bookkeeping after a commit; returns the data files
        the batch added to the sink table."""
        b.probe_s = box_probe(self.spark)
        self.snapshots.append(snapshot(self.root))
        if self.stats is not None:
            b.layer.update({f"spark.{k}": v for k, v in self.stats.collect(b.epoch).items()})
        table = self.tables[self.sink]
        prev, cur = self.snapshots[-2], self.snapshots[-1]
        added = set(_delta_files(table, cur)) - set(_delta_files(table, prev))
        b.layer["deltalog.files_added"] = float(len(added))
        return added

    def note_files(self, files: list[str]) -> tuple[int, int]:
        rows = sum(self.files[os.path.basename(f)]["rows"] for f in files)
        size = sum(self.files[os.path.basename(f)]["bytes"] for f in files)
        return rows, size

    # ------------------------------------------------------------- report
    def steady(self) -> list[Batch]:
        return bm.steady(self.batches, min(self.warmup_batches, len(self.batches) - 1))

    def box_scale(self) -> float:
        """``PROBE_REF_S`` / this run's median probe: a time multiplied by
        it reads as the time on a box as fast as the reference one."""
        probes = self.setup_probes + [b.probe_s for b in self.steady()]
        return PROBE_REF_S / bm.median(probes)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """The timings are scaled by ``box_scale()``; ``self.raw`` keeps
        them as measured."""
        steady = self.steady()
        walls = [b.wall for b in steady]
        # rows per second over the steady window: from the first steady
        # batch's start to the last one's end, less the benchmark's own
        # bookkeeping between batches
        first_start = self.tracer.spans[steady[0].sid]["start"]
        last_end = self.tracer.spans[steady[-1].sid]["end"]
        window = (last_end - first_start) - sum(b.hook_s for b in steady[:-1])
        written = bm.written_bytes(self.snapshots) - bm.written_bytes(self.snapshots[:1])
        self.raw = {
            "batch_p50_s": bm.median(walls),
            "rows_per_s": sum(b.rows_in for b in steady) / window,
        }
        scale = self.box_scale()
        return {
            "batch_p50_s": (self.raw["batch_p50_s"] * scale, "s"),
            "rows_per_s": (self.raw["rows_per_s"] / scale, "1/s"),
            "write_amp": (bm.write_amp(written, sum(b.bytes_in for b in self.batches)), "ratio"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Per-batch medians over the steady window of every layer's span
        time and count, plus end-of-run totals. A layer the workload does
        not use reads 0. Also checks that each batch's self times add up to
        its wall time; a batch where they do not is a failed check."""
        steady = self.steady()
        for b in self.batches:
            selfs = bm.self_times(self.tracer.spans, b.sid)
            for sid, secs in selfs.items():
                self.tracer.spans[sid]["self"] = secs
            self.ops.check(abs(sum(selfs.values()) - b.wall) < 1e-6,
                           f"batch {b.batch_id}: self times do not sum to wall")
            b.layer["pipeline.overhead_s"] = selfs[b.sid]
            b.layer["sources.rows_per_batch"] = b.rows_in
            b.layer["trace.hook_s"] = b.hook_s
            b.layer["trace.batch_p50_s"] = b.wall
            for sid in selfs:
                span = self.tracer.spans[sid]
                if sid != b.sid:
                    key = f"{span['name']}_s"
                    b.layer[key] = b.layer.get(key, 0.0) + span["end"] - span["start"]
        totals = self.totals()
        out: dict[str, tuple[float, str]] = {}
        for name, (unit, per_batch) in PER_LAYER.items():
            if per_batch:
                out[name] = (bm.median([b.layer.get(name, 0.0) for b in steady]), unit)
            else:
                out[name] = (totals.get(name, 0.0), unit)
        out["checkpoints.plan_growth"] = (
            bm.growth([b.layer["checkpoints.plan_s"] for b in steady]), "ratio")
        out["pipeline.batch_growth"] = (bm.growth([b.wall for b in steady]), "ratio")
        return out

    def totals(self) -> dict[str, float]:
        """End-of-run layer facts: bytes, versions, state size."""
        ckpt = self.tables["ckpt"]
        state_dir = os.path.join(ckpt, "state")
        versions, log_bytes = _log_facts(self.tables[self.sink])
        return {
            "checkpoints.bytes": dir_bytes(ckpt) - dir_bytes(state_dir),
            "state.bytes": dir_bytes(state_dir),
            "deltalog.versions": versions,
            "deltalog.log_bytes": log_bytes,
        }

    def check(self) -> None:
        raise NotImplementedError


# name -> (unit, per batch?). Per-batch values are medians over the
# steady window; the rest are end-of-run totals. ``session.*`` and
# ``process.*`` are added by the runner, the ``*_growth`` ratios by
# ``per_layer``.
PER_LAYER = {
    "checkpoints.plan_s": ("s", True),
    "checkpoints.commit_s": ("s", True),
    "checkpoints.bytes": ("B", False),
    "sources.read_s": ("s", True),
    "sources.rows_per_batch": ("count", True),
    "pipeline.overhead_s": ("s", True),
    "state.dedupe_s": ("s", True),
    "state.seen_rows": ("count", False),
    "state.bytes": ("B", False),
    "state.drop_ratio": ("ratio", False),
    "deltalog.append_s": ("s", True),
    "deltalog.versions": ("count", False),
    "deltalog.log_bytes": ("B", False),
    "deltalog.files_added": ("count", True),
    "cdc.apply_s": ("s", True),
    "cdc.files_rewritten": ("count", True),
    "cdc.bytes_rewritten": ("B", True),
    "cdc.useful_ratio": ("ratio", True),
    "mv.refresh_s": ("s", True),
    "mv.groups_touched": ("count", True),
    "spark.jobs": ("count", True),
    "spark.stages": ("count", True),
    "spark.tasks": ("count", True),
    "spark.failed_tasks": ("count", True),
    "spark.task_run_s": ("s", True),
    "spark.task_cpu_s": ("s", True),
    "spark.gc_s": ("s", True),
    "spark.shuffle_bytes": ("B", True),
    "spark.spill_bytes": ("B", True),
    "spark.driver_s": ("s", True),
    "trace.hook_s": ("s", True),
    "trace.batch_p50_s": ("s", True),
}


def box_probe(spark) -> float:
    """Seconds a fixed parallel sum takes in the JVM on every core (median
    of 3 tries): a gauge of how fast the box is at that moment. It runs no
    Spark job and no package code."""
    longs = spark.sparkContext._jvm.java.util.stream.LongStream
    tries = []
    for _ in range(3):
        t0 = time.perf_counter()
        longs.range(0, 200_000_000).parallel().sum()
        tries.append(time.perf_counter() - t0)
    return bm.median(tries)


def warmup(spark) -> None:
    """One shuffle job, so class loading and JIT of the common path happen
    before the first batch."""
    (
        spark.range(0, 200_000, numPartitions=spark.sparkContext.defaultParallelism)
        .selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .collect()
    )


def _delta_files(table: str, snap: dict) -> dict[str, tuple[int, int]]:
    log = os.path.join(table, "_delta_log")
    return {
        p: v for p, v in snap.items()
        if p.startswith(table + os.sep) and not p.startswith(log) and p.endswith(".parquet")
    }


def _log_facts(table: str) -> tuple[int, int]:
    log = os.path.join(table, "_delta_log")
    versions = sum(1 for n in os.listdir(log) if n.endswith(".json") and n[:-5].isdigit())
    return versions, dir_bytes(log)


class IngestDedupe(Run):
    """Append-only ingest: cross-batch dedupe, Delta append, MV refresh."""

    name = "ingest_dedupe"
    sink = "out"
    warmup_batches = 6

    def seed_tables(self, root: str) -> dict[str, str]:
        out = os.path.join(root, "out")
        mv_path = os.path.join(root, "mv")
        first = os.path.join(self.inputs, "in", self.manifest["files"][0]["name"])
        empty = self.spark.read.parquet(first).limit(0)
        delta.write_table(empty, out, mode="overwrite")
        mv.create_agg_mv(self.spark, out, mv_path, group_cols=MV_GROUPS, sum_cols=MV_SUMS)
        return {"out": out, "mv": mv_path, "ckpt": os.path.join(root, "ckpt")}

    def pipeline(self, observer: BatchObserver) -> Pipeline:
        tracer, spark, t = self.tracer, self.spark, self.tables

        def dedupe(df, batch_id, state, files):
            observer.batch.rows_in, observer.batch.bytes_in = self.note_files(files)
            with tracer.span("state.dedupe", observer.stage_sid):
                return patterns.cross_batch_dedupe(df, DEDUPE_KEY, state=state, batch_id=batch_id)

        def write(df):
            with tracer.span("deltalog.append", observer.stage_sid):
                delta.write_table(df, t["out"], mode="append")
            with tracer.span("mv.refresh", observer.stage_sid):
                res = mv.refresh_agg_mv(spark, t["out"], t["mv"])
            observer.batch.layer["mv.groups_touched"] = float(res["groups_touched"] or 0)

        return Pipeline(
            source=FilesSource(os.path.join(self.inputs, "in"), file_format="parquet",
                               max_files_per_trigger=1),
            checkpoint_dir=t["ckpt"],
            transform=dedupe,
            writer=write,
            observer=observer,
        )

    def totals(self) -> dict[str, float]:
        seen = os.path.join(self.tables["ckpt"], "state", "seen_ids.parquet")
        return {
            **super().totals(),
            "state.seen_rows": pq.ParquetDataset(seen).read(columns=[]).num_rows,
            "state.drop_ratio": self.drop_ratio,
        }

    def check(self) -> None:
        """Output has one row per distinct input key with the right values,
        and the MV equals a recompute over the output."""
        names = [os.path.join(self.inputs, "in", self.manifest["files"][i]["name"])
                 for i in range(len(self.batches))]
        con = duckdb.connect()
        try:
            expected = con.execute(
                "select distinct * from read_parquet(?)", [names]
            ).arrow()
            rows_in = con.execute("select count(*) from read_parquet(?)", [names]).fetchone()[0]
        finally:
            con.close()
        out = delta.read_table(self.spark, self.tables["out"]).toArrow()
        con = duckdb.connect()
        try:
            con.register("o", out)
            keys = con.execute(
                "select count(*) from (select distinct l_orderkey, l_linenumber from o)"
            ).fetchone()[0]
            con.register("e", expected)
            mv_expected = con.execute(
                "select l_returnflag, l_linestatus, count(*) as cnt, "
                "sum(l_quantity) as sum_l_quantity from e group by all"
            ).arrow()
        finally:
            con.close()
        self.drop_ratio = 1.0 - out.num_rows / rows_in
        self.ops.check(keys == expected.num_rows == out.num_rows,
                       f"ingest: {out.num_rows} rows / {keys} keys, expected {expected.num_rows}")
        self.ops.check(gen.table_digest(out) == gen.table_digest(expected), "ingest: value digest")
        mv_table = delta.read_table(self.spark, self.tables["mv"]).select(
            *MV_GROUPS, "cnt", *[f"sum_{c}" for c in MV_SUMS]).toArrow()
        mv_table = mv_table.cast(mv_expected.schema)
        self.ops.check(gen.table_digest(mv_table) == gen.table_digest(mv_expected),
                       "ingest: MV differs from recompute")


class CdcMerge(Run):
    """CDC merge: each batch of change rows applied to an orders table."""

    name = "cdc_merge"
    sink = "target"
    warmup_batches = 8

    def seed_tables(self, root: str) -> dict[str, str]:
        target = os.path.join(root, "orders")
        base = self.spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
        delta.write_table(base.repartitionByRange(gen.BASE_FILES, *CDC_KEY), target,
                          mode="overwrite")
        return {"target": target, "ckpt": os.path.join(root, "ckpt")}

    def pipeline(self, observer: BatchObserver) -> Pipeline:
        tracer, spark, t = self.tracer, self.spark, self.tables

        def write(df, files):
            observer.batch.rows_in, observer.batch.bytes_in = self.note_files(files)
            with tracer.span("cdc.apply", observer.stage_sid):
                delta.apply_cdc_table(spark, df, t["target"], keys=CDC_KEY, mode="merge")

        return Pipeline(
            source=FilesSource(os.path.join(self.inputs, "changes"), file_format="parquet",
                               max_files_per_trigger=1),
            checkpoint_dir=t["ckpt"],
            writer=write,
            observer=observer,
        )

    def after_batch(self, b: Batch) -> set[str]:
        added = super().after_batch(b)
        rows = sum(pq.read_metadata(p).num_rows for p in added)
        b.layer["cdc.files_rewritten"] = float(len(added))
        b.layer["cdc.bytes_rewritten"] = float(sum(self.snapshots[-1][p][0] for p in added))
        b.layer["cdc.useful_ratio"] = b.rows_in / rows if rows else 0.0
        return added

    def check(self) -> None:
        """The final table equals the generator's expected state."""
        out = delta.read_table(self.spark, self.tables["target"]).toArrow()
        got = gen.table_digest(out)
        want = tuple(self.manifest["expected"][len(self.batches)])
        self.ops.check(got == want, f"cdc: table digest {got} != expected {want}")


WORKLOADS = {
    IngestDedupe.name: (IngestDedupe, {"n_files": 16, "rows_per_file": 10_000}),
    CdcMerge.name: (CdcMerge, {"n_files": 20, "changes_per_file": 3_000, "base_rows": 150_000}),
}
