"""The benchmark's workloads: ccdc_tile, olap_mix and lake_merge.

A workload generates its inputs untimed (`inputs`), does its share of
set-up inside the timed set-up window (`prepare`), and yields rounds
of ops (`rounds`); the first round is the phase's warm-up. A round is
iterated lazily, so an op may depend on the table state its
predecessor left. An op is built untimed (its
inputs are ready when it is yielded); `run` is the timed call into the
program and `check` judges the output untimed. `work` is the number of
items (pixels, queries, merged rows) a verified op adds to throughput.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.cloudpickle as cloudpickle
from pyspark.sql import functions as F

import bench
import checks
import corpus
from lcmap_firebird_spark.lakehouse import LakeTable
from lcmap_firebird_spark.operators import pyccd
from lcmap_firebird_spark.plans import changedetection
from lcmap_firebird_spark.queries import merged
from lcmap_firebird_spark.sources.ids import chip_ids
from spans import Tracer, patched, wrap


def warm_up(spark, python_workers: bool) -> None:
    """A first job with one task per core; a pandas-UDF job when the
    workload's ops run Python workers, so those are up before the
    first op."""
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n)
    if python_workers:
        df = df.mapInPandas(_passthrough, "id long")
    df.collect()


def _passthrough(batches):
    yield from batches


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under `path` (0 if absent)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


@dataclass
class Op:
    """One timed call. `run` returns what `check` judges; `check`
    also fills `stats` with the op's layer counters, and sets
    `known_defect` when its failure is exactly a known, recorded
    program defect (NOTES.md): such a failure counts in `failed` but
    does not clear `correct`."""

    kind: str
    work: int
    run: Callable
    check: Callable
    stats: dict = field(default_factory=dict)
    known_defect: bool = False


class Workload:
    name = ""
    item = ""  # unit of work for the throughput line
    PYTHON_WORKERS = False  # whether the ops run Python (pandas-UDF) workers
    # nominal seconds of one timed round on the 4-vCPU VM the benchmark
    # was defined on; sizes a run's fixed op count from --seconds
    ROUND_S: float

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir

    def inputs(self) -> None:
        """Untimed input generation, before any set-up."""

    def prepare(self, spark, setup_idx: int) -> None:
        """Program work that belongs to set-up (timed as setup_s)."""

    def rounds(self, spark, tracer: Tracer, rng: np.random.Generator):
        raise NotImplementedError

    def traced_calls(self, tracer: Tracer):
        """Spans around program calls the op makes indirectly."""
        return contextlib.nullcontext()


class CcdcTile(Workload):
    """Chip waves through plans.changedetection.changedetection_ard."""

    name = "ccdc_tile"
    item = "pixels"
    PYTHON_WORKERS = True
    ROUND_S = 5.0
    SIDE = 4  # pixels per chip = SIDE**2
    N_CHIPS = 24  # distinct one-chip waves for every phase of a run

    def inputs(self) -> None:
        self.chips = [(3000 * (i % 8), -3000 * (i // 8)) for i in range(self.N_CHIPS)]
        table, self.truth = corpus.ard_tile(self.seed, self.chips, self.SIDE)
        # the warm-up wave of each phase (untraced, traced): one
        # single-pixel chip per core, one task each, so every pooled
        # Python worker has run detection before the first timed wave
        cores = os.cpu_count() or 1
        self.warm_chips = [[(-3000 * (p + 1), 3000 * (k + 1)) for k in range(cores)]
                           for p in range(2)]
        warm, warm_truth = corpus.ard_tile(self.seed + 1, sum(self.warm_chips, []), 1)
        self.truth |= warm_truth
        self.ard_path = os.path.join(self.run_dir, "ard")
        pq.write_to_dataset(
            pa.concat_tables([table, warm]), self.ard_path, partition_cols=["cx", "cy"]
        )
        self.phase = 0

    def rounds(self, spark, tracer, rng):
        """Every phase runs the same chips in the same order, so the
        traced and untraced loops time the same work."""
        ard = spark.read.parquet(self.ard_path)
        out = os.path.join(self.run_dir, f"ccd-out-{self.phase}")
        yield [self._op(spark, tracer, ard, out, self.warm_chips[self.phase])]
        self.phase += 1
        for i in itertools.count():
            yield [self._op(spark, tracer, ard, out, [self.chips[i % len(self.chips)]])]

    def _op(self, spark, tracer, ard, out, wave):
        truth = {k: v for k, v in self.truth.items() if k[:2] in set(wave)}
        stats: dict = {}

        def run():
            with tracer.span("ccd:chip_ids"):
                ids = chip_ids(spark, wave)
            with tracer.span("build:changedetection_ard"):
                changedetection.changedetection_ard(ard, ids, out)

        def check(_):
            sinks, sink_bytes = {}, 0
            for t in ("chip", "pixel", "segment"):
                parts = []
                for cx, cy in wave:
                    path = os.path.join(out, t, f"cx={cx}/cy={cy}")
                    parts.append(pd.read_parquet(path).assign(cx=cx, cy=cy))
                    sink_bytes += tree_bytes(path)
                sinks[t] = pd.concat(parts, ignore_index=True)
            stats["write_amp"] = sink_bytes / corpus.ard_bytes(len(truth))
            return checks.check_ccd(truth, sinks["pixel"], sinks["chip"], sinks["segment"])

        return Op("ccd_wave", len(truth), run, check, stats)

    def traced_calls(self, tracer):
        real_detect = pyccd.detect

        def detect(*args, **kwargs):
            # detection is lazy; materialize it inside this span so its
            # cost lands here and not in the first sink write (the
            # caller's own persist() then finds the frame cached)
            with tracer.span("ccd:detect"):
                seg = real_detect(*args, **kwargs).persist()
                seg.count()
            return seg

        return patched(
            [
                (pyccd, "detect", detect),
                (pyccd, "chip_table", wrap(tracer, "ccd:chip_table", pyccd.chip_table)),
                (pyccd, "pixel_table", wrap(tracer, "ccd:pixel_table", pyccd.pixel_table)),
                (pyccd, "segment_table", wrap(tracer, "ccd:segment_table", pyccd.segment_table)),
                (
                    changedetection,
                    "write_partitioned",
                    wrap(tracer, "ccd:write_partitioned", changedetection.write_partitioned),
                ),
            ]
        )


class OlapMix(Workload):
    """bench.py's headline queries through the registry, one per op."""

    name = "olap_mix"
    item = "queries"
    ROUND_S = 5.5

    def inputs(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "sf")
        tables = corpus.write_star_schema(self.seed, self.sf_dir)
        queries, oracles = merged()
        self.queries = {n: queries[n] for n in bench.HEADLINE}
        con = duckdb.connect()
        for t in tables:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.want = {n: con.execute(oracles[n]).fetchdf() for n in bench.HEADLINE}
        con.close()
        # query name -> output schema, once its output matched the oracle
        self.verified: dict = {}

    def rounds(self, spark, tracer, rng):
        """Every round runs each headline query once, in a seeded
        order; the first (warm-up) round checks each against its
        oracle."""
        names = bench.HEADLINE
        while True:
            yield [self._op(spark, tracer, names[i]) for i in rng.permutation(len(names))]

    def _op(self, spark, tracer, name):
        fn = self.queries[name]
        verify = name not in self.verified

        def run():
            with tracer.span(f"build:{name}"):
                df = fn(spark, self.sf_dir)
            with tracer.span(f"exec:{name}"):
                if verify:
                    return df.schema, df.toPandas()
                # noop write: evaluates every output column
                df.write.format("noop").mode("overwrite").save()
            return df.schema, None

        def check(out):
            schema, got = out
            if got is None:
                if schema != self.verified[name]:
                    return [f"output schema {schema.simpleString()} differs from the verified one"]
                return []
            errors = checks.check_query(got, self.want[name])
            if not errors:
                self.verified[name] = schema
            return errors

        return Op(name, 1, run, check)


class LakeMerge(Workload):
    """A MERGE writer and a caching reader sharing one LakeTable."""

    name = "lake_merge"
    item = "rows_merged"
    ROUND_S = 9.0
    FILES = 16
    BATCH = 2_000
    BACKFILL_EVERY = 4  # ops per round; the last op of a round backfills
    SCAN_WIDTH = 2_000

    def inputs(self) -> None:
        li = corpus.lineitem(np.random.default_rng((self.seed, 0)), corpus.LAKE_SF)
        rows = corpus.lake_rows(li)
        self.src_path = os.path.join(self.run_dir, "lake_src.parquet")
        rows.to_parquet(self.src_path, index=False)

    def prepare(self, spark, setup_idx: int) -> None:
        df = (
            spark.read.parquet(self.src_path)
            .repartitionByRange(self.FILES, "lk")
            .sortWithinPartitions("lk")
        )
        self.root = os.path.join(self.run_dir, f"lake-{setup_idx}")
        self.table = LakeTable.create(spark, self.root, df, ["lk"])

    def _state(self) -> pd.DataFrame:
        """The live rows the checks need, read with pyarrow from the
        data files the commit log lists (`pruned_paths` with no ranges):
        checking does no JVM work, so it moves neither the JVM's memory
        nor its caches. Merges here are copy-on-write, so the table
        has no deletion vectors to apply."""
        paths, _ = self.table.pruned_paths({})
        files = [os.path.join(self.root, p) for p in paths]
        return pq.read_table(files, columns=["lk", "rev", "quantity"]).to_pandas()

    def rounds(self, spark, tracer, rng):
        """Every round is three upserts then a backfill, the warm-up
        round too: the first few merges of a JVM run slower while its
        JIT warms, so the timed rounds start after a whole round."""
        state = {"now": self._state(), "cached": None, "rev": 0}
        last = self.BACKFILL_EVERY - 1
        while True:
            yield (
                self._op(spark, tracer, rng, state, backfill=i == last)
                for i in range(self.BACKFILL_EVERY)
            )

    def _op(self, spark, tracer, rng, state, backfill):
        tbl = self.table
        # None after an op that raised: re-read what it left behind
        before = state["now"] if state["now"] is not None else self._state()
        state["rev"] += 1
        next_key = int(before.lk.max()) + 1
        batch = corpus.lake_batch(rng, next_key, self.BATCH, state["rev"], backfill)
        src = spark.createDataFrame(batch)
        lo, hi = next_key - self.SCAN_WIDTH, next_key + self.BATCH
        stats = {"log_versions": tbl.latest_version() + 1}
        bytes_before = tree_bytes(self.root)

        def run():
            state["now"] = None
            with tracer.span("lake:merge"):
                tbl.merge(src)
            with tracer.span("lake:snapshot"):
                if state["cached"] is not None:
                    state["cached"].unpersist()
                snap = state["cached"] = tbl.snapshot().cache()
                n_cached = snap.count()
            with tracer.span("lake:read"):
                qty = snap.agg(F.sum("quantity")).first()[0]
                n_range = tbl.scan({"lk": (lo, hi)}).count()
            return n_cached, qty, n_range

        def check(out):
            commit = tbl.history()[-1]
            stats["files_rewritten"] = commit["removed"]
            stats["rows_rewritten_per_row_changed"] = commit["rows_added"] / len(batch)
            stats["write_amp"] = (tree_bytes(self.root) - bytes_before) / (
                len(batch) * corpus.LAKE_ROW_BYTES
            )
            after = state["now"] = self._state()
            n_cached, qty, n_range = out
            merge_errors = checks.check_merge(before, after, batch)
            read_errors = checks.check_read(after, n_cached, qty, lo, hi, n_range)
            # MERGE under a cached snapshot finds no affected files and
            # appends the batch instead of rewriting (NOTES.md);
            # backfills, whose key range spans every file, hit it. Only
            # that exact outcome is the known defect.
            op.known_defect = bool(
                backfill and merge_errors and not read_errors
                and checks.is_merge_dup_defect(before, after, batch)
            )
            return merge_errors + read_errors

        op = Op("backfill" if backfill else "upsert", len(batch), run, check, stats)
        return op


WORKLOADS = {w.name: w for w in (CcdcTile, OlapMix, LakeMerge)}

cloudpickle.register_pickle_by_value(sys.modules[__name__])
