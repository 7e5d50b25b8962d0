"""The benchmark's workloads: etl_lakehouse and queries.

Each workload owns its inputs, its warm-up pass, the infinite sequence
of ops the measured loop draws from, and the checks on every op's
output. An op is ``(kind, run, check)``: ``run()`` is the timed call
into the program, ``check(result)`` the untimed output check; a raised
error or a failed check makes the op a failed op.

``etl_lakehouse`` runs the two write paths side by side, one ETL batch
(``EtlIngest``) then one lakehouse merge and its reads
(``LakehouseMerge``) on each pass, so that both pay one cold start per
set-up between them.

Sizes are small on purpose: one run, with its set-ups that each launch
a fresh JVM, has to stay near a minute on 4 shared cores so that every
run a full comparison makes fits its time budget.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
from statistics import geometric_mean
from collections.abc import Callable, Iterator
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

# --- the program under test ---------------------------------------------
from website_traffic_etl_gcp_spark import pipeline, plans
from website_traffic_etl_gcp_spark.config import PipelineConfig
from website_traffic_etl_gcp_spark.sources import writers
from website_traffic_etl_gcp_spark.sources import snapshot_table as snap
from website_traffic_etl_gcp_spark.operators import traffic

Op = tuple[str, Callable[[], object], Callable[[object], bool]]

# One mixed query workload: star-schema joins and the traffic rollup (no
# Python workers) beside brute-force embedding kNN (all-pairs cosine in
# an Arrow mapInPandas kernel). Three queries, not more: each distinct
# query adds ~2.5 s of cold compile to both set-ups of every run.
RELATIONAL_QUERIES = (
    "q5_local_supplier_volume",
    "etl_traffic_hourly",
)
CORPUS_QUERIES = ("knn_bruteforce_cosine",)
QUERIES = RELATIONAL_QUERIES + CORPUS_QUERIES
QUERY_SF = 0.02  # lineitem 120k rows, 400 embeddings
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "embeddings",
)

ETL_ROWS = 100_000
ETL_FILES = 8

LAKE_SF = 0.05  # orders: 75k rows
LAKE_FILES = 24
LAKE_MERGES = 32  # CDC windows generated; a run applies fewer
LAKE_MERGE_KEYS = 1_000
LAKE_READS_PER_MERGE = 3
LAKE_READ_KEYS = 500
LAKE_MAINTAIN_EVERY = 2


def percentile_supported(xs: list[float], q: float) -> tuple[float, int]:
    """The ``q`` quantile of ``xs`` and how many samples lie beyond it."""
    s = sorted(xs)
    v = s[min(len(s) - 1, int(q * len(s)))]
    return v, sum(1 for x in s if x > v)


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool
    traced: bool = False


class Workload:
    """Base: subclasses fill in inputs, warm-up, ops and checks."""

    name = ""
    # op kinds whose latency the end-to-end latency metric covers
    latency_kinds: tuple[str, ...] = ()
    # one pass of the op sequence: kind -> (ops of that kind per pass,
    # whether they count as completed work for ops_per_s)
    mix: dict[str, tuple[float, bool]] = {}

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.problems: list[str] = []
        self.tracer = None  # set by the runner while a traced op runs

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def inputs(self) -> None:
        raise NotImplementedError

    def warm(self, spark, setup: int) -> None:
        """One untimed pass over the workload's ops (part of set-up)."""
        raise NotImplementedError

    def check_warm(self) -> list[str]:
        """Check the outputs kept from the last warm-up pass; returns
        the op kinds whose output is wrong."""
        return []

    def ops(self, spark) -> Iterator[Op]:
        raise NotImplementedError

    def finish(self, spark) -> None:
        """Untimed checks on the state the measured loop left behind."""

    def probe(self, spark, tracer, kind: str) -> None:
        """Traced runs only: extra traced calls after a traced op of
        ``kind``, for layer figures the op itself cannot give."""

    def e2e(self, samples: list[Sample]) -> tuple[dict, dict]:
        """(gated metrics, report-only metrics with their own names).

        ``latency_s`` is the geometric mean over the latency kinds of
        each kind's median latency, so every kind weighs the same
        however many of its ops the run fitted in, and one slow op
        moves no kind's figure. ``ops_per_s`` is the work rate of one
        whole pass (``mix``) at each kind's median latency, so a pass
        cut short by the deadline does not change the op mix it is
        computed over."""
        by = by_kind(samples)
        missing = [k for k in (*self.latency_kinds, *self.mix) if k not in by]
        if missing:
            raise RuntimeError(f"no {missing} op completed; raise --seconds")
        lat = geometric_mean([statistics.median(by[k]) for k in self.latency_kinds])
        busy = sum(n * statistics.median(by[k]) for k, (n, _) in self.mix.items())
        done = sum(n for n, work in self.mix.values() if work)
        return {"latency_s": lat, "ops_per_s": done / busy}, {}


def by_kind(samples: list[Sample]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s.kind, []).append(s.seconds)
    return out


# --- etl_ingest ---------------------------------------------------------


class EtlIngest(Workload):
    name = "etl_ingest"
    latency_kinds = ("etl_batch",)
    mix = {"etl_batch": (1, True)}

    def inputs(self) -> None:
        self.landing = os.path.join(self.work, "landing")
        self.truth = gen.landing_csv(self.landing, self.seed, ETL_ROWS, ETL_FILES)
        self.landing_bytes = _du(self.landing)
        self._batch = 0
        self.last_out = None
        self.last_counts = None
        self.batch_counts: list[dict] = []  # as run_etl reported them

    def _config(self) -> PipelineConfig:
        """A fresh output location; the previous batch's is reaped."""
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._batch += 1
        out = os.path.join(self.work, "etl", f"batch-{self._batch}")
        self.last_out = out
        return PipelineConfig(
            input_path=self.landing,
            warehouse_path=os.path.join(out, "warehouse", "traffic"),
            processed_dir=os.path.join(out, "processed"),
            backup_dir=os.path.join(out, "backups"),
        )

    def _check(self, counts: dict) -> bool:
        self.last_counts = counts
        self.batch_counts.append(counts)
        planted = self.truth["planted_bad"]
        return (
            counts["loaded"] + counts["quarantined"] == self.truth["rows"]
            and counts["quarantined"] == planted
        )

    def warm(self, spark, setup: int) -> None:
        if not self._check(pipeline.run_etl(spark, self._config())):
            self.problems.append(f"warm-up batch {setup}: {self.last_counts}")

    def ops(self, spark) -> Iterator[Op]:
        while True:
            cfg = self._config()
            yield "etl_batch", (lambda cfg=cfg: pipeline.run_etl(spark, cfg)), self._check

    def finish(self, spark) -> None:
        """The last batch's artifacts hold exactly what it reported."""
        out, counts = self.last_out, self.last_counts
        wh = os.path.join(out, "warehouse", "traffic")
        got = {
            "loaded": writers.read_warehouse(spark, wh).count(),
            "quarantined": writers.read_warehouse(spark, wh + "_rejects").count(),
        }
        processed = [
            os.path.join(out, "processed", d)
            for d in os.listdir(os.path.join(out, "processed"))
        ]
        got_csv = spark.read.option("header", "true").csv(processed).count()
        if got != counts or got_csv != counts["loaded"]:
            self.problems.append(
                f"last batch wrote {got} (+{got_csv} csv rows), reported {counts}"
            )
        self.bytes_out = _du(out)

    def e2e(self, samples):
        gated, _ = super().e2e(samples)
        batch = by_kind(samples)["etl_batch"]
        rows = self.truth["rows"] * len(batch) / sum(batch)
        return gated, {
            "etl_batch_s": (statistics.median(batch), "s"),
            "etl_rows_per_s": (rows, "1/s"),
        }

    def probe(self, spark, tracer, kind: str) -> None:
        """After a traced batch: the landing scan alone, then scan plus
        transform, each through the noop sink."""
        if kind != "etl_batch":
            return
        cfg = PipelineConfig(self.landing, "", "", "")
        with tracer.span("probe.scan"):
            _noop(pipeline.extract(spark, cfg))
        with tracer.span("probe.transform_scan"):
            _noop(traffic.transform(pipeline.extract(spark, cfg)))


# --- query workloads ----------------------------------------------------


class Queries(Workload):
    name = "queries"
    queries = QUERIES
    tables = QUERY_TABLES
    latency_kinds = QUERIES
    mix = {q: (1, True) for q in QUERIES}

    def inputs(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        gen.star_schema(self.sf_dir, self.seed, QUERY_SF, self.tables)
        self.results: dict[str, pa.Table] = {}

    def warm(self, spark, setup: int) -> None:
        for q in self.queries:
            self.results[q] = plans.REGISTRY[q].builder(spark, self.sf_dir).toArrow()

    def check_warm(self) -> list[str]:
        import duckdb

        wrong = []
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            oracle = plans.oracle_sql()
            for q in self.queries:
                want = con.sql(oracle[q]).arrow()
                if not same_rows(self.results[q], want):
                    wrong.append(q)
                    self.problems.append(
                        f"{q}: {self.results[q].num_rows} rows differ from the "
                        f"DuckDB oracle's {want.num_rows}"
                    )
        finally:
            con.close()
        return wrong

    def ops(self, spark) -> Iterator[Op]:
        rng = random.Random(self.seed)
        order = list(self.queries)
        while True:
            rng.shuffle(order)  # a fresh seeded order on every pass
            for q in order:
                yield q, (lambda q=q: self.run_query(spark, q)), _ok

    def run_query(self, spark, q: str) -> None:
        with self.span(f"plans.{q}.build"):
            df = plans.REGISTRY[q].builder(spark, self.sf_dir)
        with self.span(f"plans.{q}.run"):
            _noop(df)

    def e2e(self, samples):
        gated, _ = super().e2e(samples)
        flat = [s.seconds for s in samples]
        p90, beyond = percentile_supported(flat, 0.9)
        return gated, {
            "query_geomean_s": (gated["latency_s"], "s"),
            "query_p90_s": (p90, f"s ({len(flat)} samples, {beyond} beyond)"),
            "queries_per_s": (gated["ops_per_s"], "1/s"),
        }


# --- lakehouse_merge ----------------------------------------------------


class LakehouseMerge(Workload):
    name = "lakehouse_merge"
    latency_kinds = ("merge", "read")
    mix = {
        "merge": (1, True),
        "read": (LAKE_READS_PER_MERGE, True),
        "maintain": (1 / LAKE_MAINTAIN_EVERY, False),
    }

    def inputs(self) -> None:
        sf_dir = os.path.join(self.work, "sf")
        gen.star_schema(sf_dir, self.seed, LAKE_SF, ("orders",))
        self.orders = os.path.join(sf_dir, "orders.parquet")
        self.cdc_dir = os.path.join(self.work, "cdc")
        self.cdc = gen.cdc_windows(
            self.cdc_dir, self.seed, self.orders, LAKE_MERGES,
            LAKE_MERGE_KEYS, LAKE_READS_PER_MERGE, LAKE_READ_KEYS,
        )
        table = pq.read_table(self.orders, columns=["o_orderkey", "o_totalprice"])
        if not np.array_equal(table.column(0).to_numpy(), np.arange(table.num_rows)):
            raise ValueError("lakehouse model needs dense order keys")
        self.base_cents = np.round(table.column(1).to_numpy() * 100).astype(np.int64)
        self.root = None
        self.merge_info: list[dict] = []
        self.read_info: list[dict] = []

    def _new_table(self, spark, setup: int) -> None:
        """Commit the base snapshot: orders in LAKE_FILES key ranges."""
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work, "lake", f"orders-{setup}")
        df = spark.read.parquet(self.orders).repartitionByRange(LAKE_FILES, "o_orderkey")
        snap.write_snapshot(df, self.root)
        self.cents = self.base_cents.copy()
        self.n_merged = 0

    def warm(self, spark, setup: int) -> None:
        self._new_table(spark, setup)
        for kind, run, check in self._pass(spark, 0):
            if not check(run()):
                self.problems.append(f"warm-up {kind} failed its check")

    def _merge(self, spark, i: int):
        src = spark.read.parquet(os.path.join(self.cdc_dir, f"merge_{i:03d}.parquet"))
        return snap.merge_snapshot(spark, self.root, src, ["o_orderkey"])

    def _merged(self, i: int) -> Callable[[dict], bool]:
        def check(info: dict) -> bool:
            lo = self.cdc["merge_lo"][i]
            self.cents[lo:lo + LAKE_MERGE_KEYS] += 100
            self.n_merged += 1
            self.merge_info.append(info)
            return info["files_rewritten"] >= 1
        return check

    def _read(self, spark, lo: int):
        from pyspark.sql import functions as F

        hi = lo + LAKE_READ_KEYS - 1
        df, info = snap.read_snapshot_pruned(spark, self.root, "o_orderkey", lo, hi)
        with self.span("exec.read_collect"):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            ).collect()[0]
        return lo, row["n"], row["cents"], info

    def _read_ok(self, res) -> bool:
        lo, n, cents, info = res
        self.read_info.append(info)
        want = self.cents[lo:lo + LAKE_READ_KEYS]
        return n == len(want) and cents == int(want.sum())

    def _pass(self, spark, i: int) -> list[Op]:
        # maintenance first, so the warm-up pass (i = 0) runs it too
        ops: list[Op] = []
        if i % LAKE_MAINTAIN_EVERY == 0:
            ops.append(("maintain", self._maintain, _ok))
        ops.append(("merge", lambda: self._merge(spark, i), self._merged(i)))
        for lo in self.cdc["read_lo"][i]:
            ops.append(("read", lambda lo=lo: self._read(spark, lo), self._read_ok))
        return ops

    def _maintain(self):
        return snap.maintain_snapshot(self.root, keep_last=2, retention_seconds=0)

    def ops(self, spark) -> Iterator[Op]:
        for i in range(1, LAKE_MERGES):
            yield from self._pass(spark, i)

    def finish(self, spark) -> None:
        """Whole-table totals and pruned-vs-unpruned counts on the final
        version must match the model of every applied window."""
        from pyspark.sql import functions as F

        full = snap.read_snapshot(spark, self.root)
        row = full.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        ).collect()[0]
        if row["n"] != len(self.cents) or row["cents"] != int(self.cents.sum()):
            self.problems.append(
                f"final table holds {row['n']} rows / {row['cents']} cents, "
                f"model {len(self.cents)} / {int(self.cents.sum())}"
            )
        for lo in self.cdc["read_lo"][self.n_merged - 1]:
            hi = lo + LAKE_READ_KEYS - 1
            pruned, _ = snap.read_snapshot_pruned(spark, self.root, "o_orderkey", lo, hi)
            unpruned = full.filter(F.col("o_orderkey").between(lo, hi)).count()
            if pruned.count() != unpruned or unpruned != LAKE_READ_KEYS:
                self.problems.append(f"pruned read [{lo}, {hi}] != unpruned filter")
        m = snap.read_manifest(self.root)
        self.live_files = snap.manifest_n_files(m)
        self.manifest_bytes = os.path.getsize(
            snap._manifest_path(self.root, m["version"])
        )

    def e2e(self, samples):
        gated, _ = super().e2e(samples)
        by = by_kind(samples)
        reads = by["read"]
        p90, beyond = percentile_supported(reads, 0.9)
        return gated, {
            "merge_p50_s": (statistics.median(by["merge"]), "s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "read_p90_s": (p90, f"s ({len(reads)} samples, {beyond} beyond)"),
            "lakehouse_ops_per_s": (gated["ops_per_s"], "1/s"),
        }


# --- etl_lakehouse ------------------------------------------------------


class EtlLakehouse(Workload):
    """One ETL batch, then one lakehouse pass (a merge, its reads and,
    every LAKE_MAINTAIN_EVERY merges, maintenance), on repeat."""

    name = "etl_lakehouse"
    latency_kinds = EtlIngest.latency_kinds + LakehouseMerge.latency_kinds
    mix = {**EtlIngest.mix, **LakehouseMerge.mix}

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.etl = EtlIngest(work, seed)
        self.lake = LakehouseMerge(work, seed)
        self.parts = (self.etl, self.lake)
        for part in self.parts:
            part.problems = self.problems

    @property
    def tracer(self):
        return self.etl.tracer

    @tracer.setter
    def tracer(self, tracer) -> None:
        for part in getattr(self, "parts", ()):
            part.tracer = tracer

    def inputs(self) -> None:
        for part in self.parts:
            part.inputs()

    def warm(self, spark, setup: int) -> None:
        for part in self.parts:
            part.warm(spark, setup)

    def ops(self, spark) -> Iterator[Op]:
        etl = self.etl.ops(spark)
        for i in range(1, LAKE_MERGES):
            yield next(etl)
            yield from self.lake._pass(spark, i)

    def finish(self, spark) -> None:
        for part in self.parts:
            part.finish(spark)

    def probe(self, spark, tracer, kind: str) -> None:
        self.etl.probe(spark, tracer, kind)

    def e2e(self, samples):
        gated, _ = super().e2e(samples)
        report = {}
        for part in self.parts:
            report.update(part.e2e(samples)[1])
        return gated, report


WORKLOADS = {w.name: w for w in (EtlLakehouse, Queries)}


# --- helpers ------------------------------------------------------------


def _ok(_result) -> bool:
    return True


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _canon(col: pa.ChunkedArray) -> pa.Array:
    """One result column as comparable strings: floats widened to
    float64 (and -0.0 folded into 0.0), timestamps to naive
    microseconds, nested values through their Python repr, NULL as a
    marker no value renders to."""
    a = col.combine_chunks()
    t = a.type
    if pa.types.is_floating(t):
        a = pc.add(a.cast(pa.float64()), 0.0)
    elif pa.types.is_timestamp(t):
        a = a.cast(pa.timestamp("us", tz=t.tz)).cast(pa.timestamp("us"))
    if pa.types.is_nested(a.type):
        a = pa.array(
            [None if v is None else repr(v) for v in a.to_pylist()], pa.string()
        )
    return pc.fill_null(a.cast(pa.string()), "∅")


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Order-insensitive equality: same column names, same multiset of
    canonicalized rows."""
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False
    keys = [(c, "ascending") for c in cols]
    a = pa.table({c: _canon(got.column(c)) for c in cols}).sort_by(keys)
    b = pa.table({c: _canon(want.column(c)) for c in cols}).sort_by(keys)
    return a.equals(b)
