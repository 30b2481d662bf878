"""The workloads. Each one generates its inputs from the seed in
``generate`` (timed per part, for set-up), runs one homogeneous op per
``op`` call, and checks the answers of all ops in ``failures`` after the
timed loop.

Ops call the engine through module attributes (``joins.range_join``)
so the traced run's instrumented functions are the ones called. Every
op materializes its whole result: a collect of the full answer or a
parquet write, never ``count()``.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc

from optimizing_spark.config import POW2_WORLD_2D
from optimizing_spark.operators import joins
from optimizing_spark.plans import layout, pipeline
from optimizing_spark.sources import datagen

from . import inputs, oracles

DOC_SLICES = 3
DOCS_PER_SLICE = 75_000


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class _ObjectTable:
    """Shared set-up of the two request workloads: the object table in
    OBJECT_PARTS parquet files plus one file per query batch (so every op
    runs the same plan, with no batch literal in the generated code)."""

    make_queries = None  # seed -> table of all query batches

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.objects_dir = os.path.join(work, "inputs", "objects")
        self.queries_dir = os.path.join(work, "inputs", "queries")

    def generate(self) -> list[float]:
        parts: list[pa.Table] = []

        def part(p: int) -> None:
            parts.append(inputs.objects_part(self.seed, p))
            inputs.write(parts[-1], os.path.join(self.objects_dir, f"part-{p}.parquet"))

        times = [_timed(lambda p=p: part(p)) for p in range(inputs.OBJECT_PARTS)]
        times[0] += _timed(self._write_queries)
        self.objects = pa.concat_tables(parts)
        return times

    def _write_queries(self) -> None:
        self.queries = self.make_queries(self.seed)
        for b in range(inputs.N_BATCHES):
            inputs.write(self.queries.filter(pc.equal(self.queries["batch"], b)), self.batch_path(b))

    def batch_path(self, b: int) -> str:
        return os.path.join(self.queries_dir, f"batch-{b:02d}.parquet")

    def batch(self, i: int) -> int:
        return i % inputs.N_BATCHES

    def read(self, i: int, *cols: str):
        with self.tracer.span("sources.read"):
            o = self.spark.read.parquet(self.objects_dir)
            q = self.spark.read.parquet(self.batch_path(self.batch(i)))
            return o, q.select(*cols)

    def batch_queries(self, i: int) -> pa.Table:
        return self.queries.filter(pc.equal(self.queries["batch"], self.batch(i)))


class RangeQueries(_ObjectTable):
    """Viewport batches -> range_join(depth=6, rect) -> hits per query."""

    make_queries = staticmethod(inputs.range_batches)
    rows_per_op = inputs.RANGE_BATCH
    object_cover = None

    def op(self, i: int):
        o, q = self.read(i, "query_id", "min_x", "min_y", "max_x", "max_y")
        pairs = joins.range_join(o, q, POW2_WORLD_2D, depth=inputs.DEPTH, convention="rect")
        with self.tracer.span("exec.collect"):
            rows = pairs.groupBy("query_id").count().collect()
        return {int(r[0]): int(r[1]) for r in rows}

    def failures(self, results: dict) -> set[int]:
        oracle = oracles.RangeOracle(self.objects)
        return {i for i, got in results.items() if got != oracle.counts(self.batch_queries(i))}

    def pairs_out(self, result) -> int:
        return sum(result.values())

    def candidate_pairs(self, i: int) -> int:
        if self.object_cover is None:
            self.object_cover = oracles.cell_cover(self.objects, inputs.DEPTH, inputs.WORLD)
        return oracles.cell_candidates(self.object_cover, self.batch_queries(i), inputs.DEPTH, inputs.WORLD)


class KnnQueries(_ObjectTable):
    """25 query points -> knn_join(k=5, depth=6, broadcast_queries) -> collected."""

    make_queries = staticmethod(inputs.knn_batches)
    rows_per_op = inputs.KNN_BATCH

    def op(self, i: int):
        o, q = self.read(i, "query_id", "x", "y")
        nn = joins.knn_join(q, o.select("obj_id", "x", "y"), POW2_WORLD_2D,
                            depth=inputs.DEPTH, k=inputs.KNN_K, broadcast_queries=True)
        with self.tracer.span("exec.collect"):
            rows = nn.collect()
        return [(r.query_id, r.obj_id, r.d2, r.rank) for r in rows]

    def failures(self, results: dict) -> set[int]:
        o = self.objects
        x, y, ids = o["x"].to_numpy(), o["y"].to_numpy(), o["obj_id"].to_numpy()
        return {i for i, got in results.items()
                if not oracles.same_rows(got, oracles.knn_rows(x, y, ids, self.batch_queries(i), inputs.KNN_K))}

    def pairs_out(self, result) -> int:
        return len(result)


class TileIngest:
    """One stored slice of documents -> tile_documents(jvm) ->
    write_clustered, plus the collected cell histogram of what was written."""

    rows_per_op = DOCS_PER_SLICE

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.docs_dir = os.path.join(work, "inputs", "docs")
        self.out_dir = os.path.join(work, "out")

    def slice_path(self, k: int) -> str:
        return os.path.join(self.docs_dir, f"slice-{k}")

    def generate(self) -> list[float]:
        cores = self.spark.sparkContext.defaultParallelism

        def part(k: int) -> None:
            docs = datagen.documents_spark_fast(
                self.spark, DOCS_PER_SLICE, seed=self.seed * DOC_SLICES + k, partitions=cores)
            docs.write.mode("overwrite").parquet(self.slice_path(k))

        return [_timed(lambda k=k: part(k)) for k in range(DOC_SLICES)]

    def written(self, i: int) -> str:
        return os.path.join(self.out_dir, f"op-{i}")

    def op(self, i: int):
        with self.tracer.span("sources.read"):
            docs = self.spark.read.parquet(self.slice_path(i % DOC_SLICES))
        tiled = pipeline.tile_documents(docs, how="jvm")
        layout.write_clustered(tiled, self.written(i))
        with self.tracer.span("sources.read"):
            written = self.spark.read.parquet(self.written(i))
        hist = pipeline.docs_cell_histogram(written)
        with self.tracer.span("exec.collect"):
            return [(r.qt_depth, r.qt_code, r.n_docs) for r in hist.collect()]

    def failures(self, results: dict) -> set[int]:
        return {i for i, got in results.items() if not oracles.tile_ok(self.written(i), got, DOCS_PER_SLICE)}

    def pairs_out(self, result) -> int:
        return 0


WORKLOADS = {"tile_ingest": TileIngest, "range_queries": RangeQueries, "knn_queries": KnnQueries}
