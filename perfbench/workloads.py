"""The benchmark's workloads: one preset (or dedup job) each, driven
through the program's public entry points.

Every workload offers the same steps to ``run.py``:

- ``setup()``        build the preset and run its preflight (timed as set-up),
- ``restore()``      put the target back into its pre-pass state (untimed),
- ``run_pass()``     one pass: ``ImportPipeline.run()`` or one full dedup,
- ``check(result)``  compare the pass's output against the oracle (untimed),
- ``traced_pass()``  a pass with a span around each layer call.

A traced pass wraps the layers' public functions on the live objects.
Each wrapper materializes the call's output with ``cache`` + a ``noop``
write inside its span, so a span's self time excludes upstream
recompute; the caches are dropped after the pass.
"""

from __future__ import annotations

import functools
import os
import shutil
import sqlite3
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle
from wwwision_importservice_spark.operators import dedup
from wwwision_importservice_spark.plans.pipeline import ImportPipeline
from wwwision_importservice_spark.plans.preset import PresetRegistry
from wwwision_importservice_spark.record import RecordFrame

NUM_HASHES = 16
BANDS = 8
SHINGLE = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _changed_page_bytes(before: str, after: str, page: int = 4096) -> int:
    """Bytes of SQLite pages that differ between two copies of a db file
    (pages past the end of the shorter file count as changed)."""
    a = np.fromfile(before, dtype=np.uint8)
    b = np.fromfile(after, dtype=np.uint8)
    n = min(len(a), len(b)) // page * page
    diff = (a[:n].reshape(-1, page) != b[:n].reshape(-1, page)).any(axis=1)
    return int(diff.sum()) * page + abs(len(a) - len(b))


class _Materializer:
    """Caches + materializes frames inside spans; drops them afterwards."""

    def __init__(self) -> None:
        self.frames = []

    def __call__(self, df):
        df = df.cache()
        _noop(df)
        self.frames.append(df)
        return df

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames = []


def _span_metrics(tracer, stages, spans, layer_of: dict[str, str]) -> dict:
    """``<layer>_s`` self times and REST totals for the spans of one pass."""
    totals = stages.by_group({s["id"] for s in spans})
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of[s["name"]]
        t = totals[s["id"]]
        out[f"{layer}.self_s"] = tracer.self_time(s, spans)
        out[f"{layer}.wall_s"] = s["end"] - s["start"]
        out[f"{layer}.executor_run_s"] = t["executorRunTime"] / 1000
        out[f"{layer}.gc_s"] = t["jvmGcTime"] / 1000
        out[f"{layer}.stages"] = t["stages"]
        out[f"{layer}.shuffle_write_bytes"] = t["shuffleWriteBytes"]
        out[f"{layer}.spill_bytes"] = t["memoryBytesSpilled"] + t["diskBytesSpilled"]
    return out


class SyncWorkload:
    """A preset sync into a SQLite (``DbapiTarget``) or parquet target."""

    pipeline_layer = True

    def __init__(self, name: str, inputs: str, work: str, info: dict, pool) -> None:
        self.name = name
        self.inputs = inputs
        self.info = info
        self.pool = pool
        self.shape = gen.SYNC_SHAPES[name]
        self.sql = name.endswith("_sql")
        if self.sql:
            self.pristine = os.path.join(inputs, "target.sqlite")
            self.target_path = os.path.join(work, "target.sqlite")
            self.changelog = None
        else:
            self.pristine = os.path.join(inputs, "target_pristine")
            self.target_path = os.path.join(work, "target")
            self.changelog = os.path.join(work, "changelog")
        self.rows = info["source_rows"]
        self.expected = None
        self.pipeline = None

    def _config(self) -> dict:
        if self.sql:
            target = {
                "type": "dbapi",
                "options": {
                    # default rollback journal, synchronous=FULL
                    "connection_factory": functools.partial(sqlite3.connect, self.target_path),
                    "table": "items",
                    "id_column": "id",
                    "version_column": "version",
                    "write_partitions": 1,
                },
            }
        else:
            target = {
                "type": "parquet",
                "options": {
                    "path": self.target_path,
                    "id_column": "id",
                    "version_column": "version",
                    "soft_delete": True,
                },
            }
        return {
            "source": {
                "type": "file",
                "id_attribute": "id",
                "version_attribute": "version",
                "order_attribute": "seq",
                "options": {"path": os.path.join(self.inputs, "source"), "format": "parquet"},
            },
            "target": target,
            "mapping": dict(gen.MAPPING),
        }

    def prepare(self) -> None:
        """Oracle state for this seed; untimed, once per run."""
        self.expected = self.pool.submit(
            oracle.expected_sync, self.inputs, self.shape.soft_delete
        ).result()
        if self.expected["counts"] != self.info["planted"]:
            raise RuntimeError(
                f"generator and oracle disagree: {self.info['planted']} vs {self.expected['counts']}"
            )
        self.restore()

    def setup(self, spark) -> None:
        preset = PresetRegistry({"presets": {self.name: self._config()}}).build(self.name)
        self.pipeline = ImportPipeline(preset, spark)
        result = self.pipeline.setup()
        if result.has_errors:
            raise RuntimeError(f"preset preflight failed:\n{result.render()}")

    def restore(self) -> None:
        if self.sql:
            shutil.copyfile(self.pristine, self.target_path)
            return
        for path in (self.target_path, self.changelog):
            if os.path.exists(path):
                shutil.rmtree(path)
        shutil.copytree(self.pristine, self.target_path)

    def run_pass(self) -> dict:
        return self.pipeline.run(changelog_dir=self.changelog, run_id="bench")

    def check(self, stats: dict) -> list[str]:
        return self.pool.submit(
            oracle.check_sync, self.target_path, self.expected, stats, self.info["planted"]
        ).result()

    def traced_pass(self, tracer, stages) -> tuple[float, dict, dict]:
        """One pass with a span per layer call; returns (wall, stats, metrics)."""
        pipeline = self.pipeline
        preset = pipeline.preset
        mat = _Materializer()
        outputs: dict[str, object] = {}
        apply_stats = {}

        def wrap(span_name, fn):
            def inner(*args, **kwargs):
                with tracer.span(span_name):
                    out = mat(fn(*args, **kwargs))
                outputs[span_name] = out
                return out

            return inner

        orig_from_raw = RecordFrame.from_raw

        def from_raw(*args, **kwargs):
            with tracer.span("record"):
                rf = orig_from_raw(*args, **kwargs)
                rf = RecordFrame(mat(rf.df), versioned=rf.versioned)
            outputs["record"] = rf.df
            return rf

        target_apply = preset.target.apply

        def apply(spark, cdc):
            with tracer.span("sinks.apply"):
                st = target_apply(spark, cdc)
            apply_stats["stats"] = st
            outputs["sinks.apply.input"] = cdc
            return st

        patches = {
            preset.source: {"load": wrap("sources", preset.source.load)},
            preset.target: {
                "current_state": wrap("sinks.current_state", preset.target.current_state),
                "apply": apply,
            },
            preset.mapper: {"apply": wrap("mapping", preset.mapper.apply)},
            pipeline: {"compute_changes": wrap("diff", pipeline.compute_changes)},
        }
        for obj, attrs in patches.items():
            for attr, fn in attrs.items():
                setattr(obj, attr, fn)
        RecordFrame.from_raw = staticmethod(from_raw)
        try:
            t0 = time.perf_counter()
            with tracer.span("pipeline"):
                stats = pipeline.run(changelog_dir=self.changelog, run_id="bench")
            wall = time.perf_counter() - t0
            metrics = self._layer_metrics(tracer, stages, outputs, apply_stats["stats"])
        finally:
            RecordFrame.from_raw = orig_from_raw
            for obj, attrs in patches.items():
                for attr in attrs:
                    delattr(obj, attr)
            mat.release()
        return wall, stats, metrics

    def _layer_metrics(self, tracer, stages, outputs, st) -> dict:
        spans = tracer.trace_spans(tracer.trace_id)
        layer_of = {n: n for n in ("sources", "record", "sinks.current_state", "diff", "mapping", "sinks.apply", "pipeline")}
        m = _span_metrics(tracer, stages, spans, layer_of)
        rows_in = outputs["sources"].count()
        changes = outputs["diff"].count()
        mapped = outputs["sinks.apply.input"]
        payload = [c for c in mapped.columns if c in gen.MAPPED_COLS]
        changed_bytes = mapped.select(
            sum(F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0)) for c in payload).alias("b")
        ).agg(F.sum("b")).first()[0] or 0
        if self.sql:
            written = _changed_page_bytes(self.pristine, self.target_path)
        else:
            written = _dir_bytes(self.target_path)
        apply_s = m["sinks.apply.wall_s"]
        n_written = st.added + st.updated + st.removed
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        return {
            "sources.load_s": m["sources.self_s"],
            "sources.rows_in": rows_in,
            "sources.input_bytes": _dir_bytes(os.path.join(self.inputs, "source")),
            "record.key_s": m["record.self_s"],
            "record.dedup_ratio": outputs["record"].count() / rows_in,
            "record.shuffle_write_bytes": m["record.shuffle_write_bytes"],
            "sinks.current_state_s": m["sinks.current_state.self_s"],
            "sinks.current_state_rows": outputs["sinks.current_state"].count(),
            "diff.s": m["diff.self_s"],
            "diff.shuffle_write_bytes": m["diff.shuffle_write_bytes"],
            "diff.spill_bytes": m["diff.spill_bytes"],
            "diff.stages": m["diff.stages"],
            "diff.changed_ratio": changes / rows_in,
            "mapping.s": m["mapping.self_s"],
            "sinks.apply_s": apply_s,
            "sinks.write_rows_per_s": n_written / apply_s,
            "sinks.errors": st.errors,
            "sinks.unmatched": st.unmatched,
            "sinks.bytes_written": written,
            "sinks.write_amplification": written / changed_bytes if changed_bytes else 0.0,
            "sinks.busy_share": m["sinks.apply.executor_run_s"] / (apply_s * cores),
            "pipeline.s": m["pipeline.self_s"],
            "pipeline.changelog_bytes": _dir_bytes(self.changelog) if self.changelog else 0,
            **{
                f"{layer}.{k}": m[f"{layer}.{k}"]
                for layer in layer_of.values()
                for k in ("executor_run_s", "gc_s")
            },
        }


class DedupWorkload:
    """Near-dup dedup: MinHash -> LSH pairs -> connected components ->
    keep one document per cluster."""

    pipeline_layer = False

    def __init__(self, name: str, inputs: str, work: str, info: dict, pool) -> None:
        self.name = name
        self.inputs = inputs
        self.info = info
        self.pool = pool
        self.out = os.path.join(work, "dedup_out")
        self.rows = info["docs"]
        self.spark = None

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        self.spark = spark

    def restore(self) -> None:
        if os.path.exists(self.out):
            shutil.rmtree(self.out)

    def _steps(self, span, mat):
        spark = self.spark
        docs = spark.read.parquet(os.path.join(self.inputs, "corpus"))
        with span("dedup.minhash"):
            sigs = mat(dedup.minhash_signatures_inline(docs, "id", "text", n=SHINGLE, num_hashes=NUM_HASHES))
        with span("dedup.lsh"):
            pairs = dedup.lsh_candidate_pairs(sigs, "id", num_hashes=NUM_HASHES, bands=BANDS).cache()
            _noop(pairs)
        cc_stats: dict = {}
        with span("dedup.cc"):
            clusters = mat(
                dedup.connected_components(
                    docs.select("id"), pairs, id_col="id", stats=cc_stats,
                    edges_within_nodes=True, pairs_distinct=True,
                )
            )
        clusters.write.mode("overwrite").parquet(os.path.join(self.out, "clusters"))
        reps = spark.read.parquet(os.path.join(self.out, "clusters")).filter(F.col("id") == F.col("cluster_id"))
        docs.join(reps.select("id"), "id", "left_semi").write.mode("overwrite").parquet(
            os.path.join(self.out, "kept")
        )
        return pairs, cc_stats

    def run_pass(self):
        return self._steps(_no_span, lambda df: df)[0]

    @staticmethod
    def _collect(pairs) -> list[tuple[int, int]]:
        """The pass's candidate pairs, read back from its cache."""
        try:
            return [(r[0], r[1]) for r in pairs.collect()]
        finally:
            pairs.unpersist()

    def check(self, pairs) -> list[str]:
        if not isinstance(pairs, list):
            pairs = self._collect(pairs)
        return self.pool.submit(oracle.check_dedup, self.inputs, self.out, pairs).result()

    def traced_pass(self, tracer, stages) -> tuple[float, dict, dict]:
        mat = _Materializer()
        try:
            t0 = time.perf_counter()
            with tracer.span("dedup"):
                pairs, cc_stats = self._steps(tracer.span, mat)
            wall = time.perf_counter() - t0
            pair_list = self._collect(pairs)
        finally:
            mat.release()
        spans = tracer.trace_spans(tracer.trace_id)
        layer_of = {n: n for n in ("dedup", "dedup.minhash", "dedup.lsh", "dedup.cc")}
        m = _span_metrics(tracer, stages, spans, layer_of)
        quality = oracle.pair_quality(self.info["clusters"], pair_list)
        metrics = {
            "dedup.minhash_s": m["dedup.minhash.self_s"],
            "dedup.lsh_s": m["dedup.lsh.self_s"],
            "dedup.cc_s": m["dedup.cc.self_s"],
            "dedup.output_s": m["dedup.self_s"],
            "dedup.candidate_pairs": len(pair_list),
            "dedup.pair_precision": quality["pair_precision"],
            "dedup.planted_recall": quality["planted_recall"],
            "dedup.cc_iterations": cc_stats.get("iterations", 0),
            "dedup.shuffle_write_bytes": sum(m[f"{k}.shuffle_write_bytes"] for k in layer_of),
            "sources.input_bytes": _dir_bytes(os.path.join(self.inputs, "corpus")),
            **{f"{layer}.{k}": m[f"{layer}.{k}"] for layer in layer_of for k in ("executor_run_s", "gc_s")},
        }
        return wall, pair_list, metrics


@contextmanager
def _no_span(name):
    yield


WORKLOADS = {
    "sync_delta_sql": SyncWorkload,
    "initial_load_sql": SyncWorkload,
    "sync_churn_parquet": SyncWorkload,
    "neardup_dedup": DedupWorkload,
}
