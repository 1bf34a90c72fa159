"""The benchmark's three workloads.

Each is a closed loop with one client: a batch job or a dashboard user
that waits for every result before sending the next operation.  A run is
a sequence of *cycles* — one complete unit of the workload's work — and a
cycle is a sequence of timed *operations*:

==========================  ==================================  =============
workload                    operation                           cycle
==========================  ==================================  =============
``medallion_incremental``   one ``apply_medallion_arrival``      all arrivals
                                                                + derive dims
``serving_mix``             build + execute + fetch one query   every query
                                                                once
``curation_fresh``          ``run_curation_pipeline`` on a      one pass
                            corpus the session never saw
==========================  ==================================  =============

A run measures a fixed number of cycles, ``round(seconds /
nominal_cycle_s)`` and at least one, where ``nominal_cycle_s`` is the
workload's cycle time on the seed code at 4 cores: the count depends on
``--seconds`` only, so a faster build measures the same cycles as its
parent.  Output checks run after a cycle's operations, outside every
timed interval, and each lake is removed once checked.
"""

from __future__ import annotations

import inspect
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.trace import Tracer

#: Input scale relative to the package's sf0.1 test tables (100k events,
#: 150k orders, 600k lineitems, 5k documents at 1.0).  The pipelines read
#: 10k events over 30 days and 500-document corpora; the serving tables
#: hold 7.5k orders and 30k lineitems.  At 1.0 one run on 4 cores took 64 s
#: (incremental, a 28 s cycle), 61 s (curation, a 16 s pass) and 201 s
#: (serving, a 69 s round): past the 180 s a run may take, and, at 22 runs
#: per workload, far past the 3420 s a whole benchmark sweep may take.
SCALE = 0.1
SERVING_SCALE = 0.05
#: Event days of the separately seeded inputs the warm-ups run on (at the
#: workload's scale): the same code paths and generated code as the timed
#: cycles, never the paths those read.
WARMUP_DAYS = 3
#: Untimed ``curation_fresh`` passes, each on a corpus of its own: the
#: passes keep getting faster over the first three or so.
CURATION_WARMUP_PASSES = 2
#: Day-chunks the 30 days arrive in for ``medallion_incremental`` (equal
#: chunks, so the seed's order does not change the work).
N_CHUNKS = 3
#: Plan modules whose registered queries make up ``serving_mix``: the
#: dashboard, the gated reports, the star-schema joins and the aggregates
#: (22 queries).  The catalog's other read-only modules (``windows``,
#: ``setops_sql``, ``scalars``; 21 more queries) are left out: a warm-up
#: plus a timed round over all 43 cost 90-120 s a run on 4 cores, more than
#: the whole benchmark sweep can afford.
SERVING_MODULES = ("dashboard", "relational", "joins", "aggregates")
#: Untimed rounds before the timed one: after a single round the requests
#: still ran about 10% slower than after two.
SERVING_WARMUP_ROUNDS = 2


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    tracer: Tracer
    seconds: float = 10.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Cycle:
    op_s: list[float] = field(default_factory=list)
    cycle_s: float = 0.0
    ops: int = 0
    failed_ops: int = 0
    checks: int = 0
    failed_checks: int = 0
    lake_bytes: int = 0


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (metadata files excluded)."""
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
        if not fn.startswith((".", "_"))
    )


def serving_names(registry) -> list[str]:
    """Registered queries whose plan function is defined in SERVING_MODULES."""
    out = []
    for name, q in registry.items():
        fn = inspect.getclosurevars(q.build).nonlocals.get("fn")
        module = getattr(fn, "__module__", "").rsplit(".", 1)[-1]
        if module in SERVING_MODULES and q.oracle is not None:
            out.append(name)
    return sorted(out)


class Workload:
    """One workload: seeded inputs, an untimed warm-up, then cycles of
    timed operations, each cycle checked once its operations are done."""

    name = ""
    tables: tuple[str, ...] = ()
    scale = SCALE
    nominal_cycle_s: float

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = ctx.path("inputs")
        self.input_bytes = 0
        self.n_cycles = max(1, round(ctx.seconds / self.nominal_cycle_s))
        self._settled = 0

    # -- set-up (charged to setup_s) ----------------------------------
    def setup(self) -> None:
        """Generate the inputs, then warm up (both charged to setup_s)."""
        tracer = self.ctx.tracer
        with tracer.span("session.inputs"):
            self.prepare()
        with tracer.span("session.warmup"):
            self.warm_up()
        tracer.counts.clear()
        self._settled = len(tracer.spans)

    def prepare(self) -> None:
        self.input_bytes = inputs.write_tables(
            self.sf_dir, self.ctx.seed, self.scale, self.tables
        )

    def warm_up(self) -> None:
        raise NotImplementedError

    def warmup_inputs(self) -> str:
        d = self.ctx.path("warmup_inputs")
        inputs.write_tables(
            d, self.ctx.seed + 1_000_003, self.scale, self.tables, days=WARMUP_DAYS
        )
        return d

    # -- measurement ---------------------------------------------------
    def cycle(self, k: int) -> Cycle:
        """Run and check cycle ``k``."""
        raise NotImplementedError

    def _op(self, c: Cycle, op_id: str, fn, timed: bool = True) -> bool:
        """One timed operation; a raised exception counts as a failure."""
        c.ops += 1
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span("op", op_id=op_id):
                fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            c.failed_ops += 1
            return False
        finally:
            dt = time.perf_counter() - t0
            c.cycle_s += dt
        if timed:
            c.op_s.append(dt)
        return True

    def _settle(self) -> None:
        """Attach Spark counters and write sizes to the spans opened since
        the last call (the operations' jobs have all finished)."""
        tracer = self.ctx.tracer
        new = tracer.spans[self._settled :]
        tracer.collect_spark(new)
        tracer.measure_writes(new)
        self._settled = len(tracer.spans)

    @staticmethod
    def _drop(c: Cycle, lake: str) -> None:
        """Record the lake's size, then remove it."""
        c.lake_bytes = dir_bytes(lake)
        shutil.rmtree(lake, ignore_errors=True)

    def _check(self, c: Cycle, label: str, got, want) -> None:
        c.checks += 1
        try:
            problem = checks.mismatch(got(), want)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            problem = "check raised"
        if problem is not None:
            c.failed_checks += 1
            print(f"# check failed: {self.name} {label}: {problem}", file=sys.stderr)


class MedallionIncremental(Workload):
    """The 30 days arrive as day-chunks in a seeded order; each is applied
    with ``apply_medallion_arrival``, then ``derive_medallion_dims`` runs.
    Facts, dims and the open SCD2 versions must equal a full run's, as the
    medallion oracles state it (see ``checks.medallion_oracles``)."""

    name = "medallion_incremental"
    tables = ("events",)
    nominal_cycle_s = 14.5

    def _read(self, lake: str, table: str):
        if table != "open_scd2":
            return self.spark.read.parquet(f"{lake}/{table}")
        from bakery_big_data_spark.sources.snapshots import read_snapshot

        return (
            read_snapshot(self.spark, f"{lake}/gold_dim_user_scd2")
            .filter("is_current")
            .select("user_id", "value_band", "first_seen_date")
        )

    def _check_lake(self, c: Cycle, lake: str) -> None:
        if not hasattr(self, "_want"):
            from bakery_big_data_spark.plans import REGISTRY

            con = checks.connect(self.sf_dir)
            self._want = {
                t: checks.oracle_multiset(con, sql)
                for t, sql in checks.medallion_oracles(REGISTRY).items()
            }
            con.close()
        for t, want in self._want.items():
            got = lambda t=t: checks.spark_multiset(self._read(lake, t))
            self._check(c, t, got, want)

    @staticmethod
    def days(sf_dir: str) -> list:
        ts = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts"])
        return sorted({t.date() for t in ts.column("ts").to_pylist()})

    def prepare(self) -> None:
        super().prepare()
        days = self.days(self.sf_dir)
        n = len(days)
        self.chunks = [days[i * n // N_CHUNKS : (i + 1) * n // N_CHUNKS] for i in range(N_CHUNKS)]
        self.order = inputs.arrival_order(self.ctx.seed, N_CHUNKS)

    def _arrive(self, sf_dir: str, lake: str, seq: int, chunk: list) -> None:
        from pyspark.sql import functions as F

        from bakery_big_data_spark.pipeline import medallion

        bronze_d = medallion.bronze_events(self.spark, sf_dir).filter(
            F.to_date("ts").isin(chunk)
        )
        medallion.apply_medallion_arrival(
            self.spark, sf_dir, lake, bronze_d, seq, chunk[0], chunk[-1], chunk_dates=chunk
        )

    def warm_up(self) -> None:
        from bakery_big_data_spark.pipeline import medallion

        d, lake = self.warmup_inputs(), self.ctx.path("warmup_lake")
        for seq, day in enumerate(self.days(d)[:2]):
            self._arrive(d, lake, seq, [day])
        medallion.derive_medallion_dims(self.spark, lake)
        shutil.rmtree(lake)

    def cycle(self, k: int) -> Cycle:
        from bakery_big_data_spark.pipeline import medallion

        c = Cycle()
        lake = self.ctx.path(f"lake{k}")
        for seq, ci in enumerate(self.order):
            chunk = self.chunks[ci]
            ok = self._op(
                c, f"c{k}.arrival{seq}", lambda: self._arrive(self.sf_dir, lake, seq, chunk)
            )
            if not ok:
                break
        else:
            self._op(
                c, f"c{k}.derive", lambda: medallion.derive_medallion_dims(self.spark, lake),
                timed=False,
            )
        self._settle()
        if not c.failed_ops:
            self._check_lake(c, lake)
        self._drop(c, lake)
        return c


class ServingMix(Workload):
    """Dashboard/report requests over the read-only catalog queries of
    SERVING_MODULES; each request is built, executed and fetched to the
    driver."""

    name = "serving_mix"
    tables = (*inputs.STAR_TABLES, "events")
    scale = SERVING_SCALE
    nominal_cycle_s = 13.0

    def prepare(self) -> None:
        from bakery_big_data_spark.plans import REGISTRY

        super().prepare()
        self.registry = REGISTRY
        self.names = serving_names(REGISTRY)
        self._want: dict = {}

    def warm_up(self) -> None:
        # SERVING_WARMUP_ROUNDS rounds on other tables: the JIT and generated
        # code warm up, while per-table plan caches stay cold for the timed
        # round
        d = self.warmup_inputs()
        for _ in range(SERVING_WARMUP_ROUNDS):
            for name in self.names:
                self.registry[name].build(self.spark, d).collect()

    def _request(self, name: str, out: list) -> None:
        tracer = self.ctx.tracer
        with tracer.span("plans.build", query=name):
            df = self.registry[name].build(self.spark, self.sf_dir)
        with tracer.span("plans.exec", query=name):
            rows = df.collect()
        out.append((name, df.columns, rows))

    def cycle(self, k: int) -> Cycle:
        c = Cycle()
        results: list = []
        for i, name in enumerate(inputs.request_round(self.ctx.seed, self.names, k)):
            self._op(c, f"r{k}.{i}", lambda: self._request(name, results))
        self._settle()
        con = None
        for name, cols, rows in results:
            if name not in self._want:
                con = con or checks.connect(self.sf_dir)
                self._want[name] = checks.oracle_multiset(con, self.registry[name].oracle)
            self._check(
                c, name, lambda: checks.multiset(cols, rows), self._want[name]
            )
        if con is not None:
            con.close()
        return c


class CurationFresh(Workload):
    """``run_curation_pipeline`` on a corpus the session has never seen."""

    name = "curation_fresh"
    nominal_cycle_s = 4.5

    def prepare(self) -> None:
        # the first CURATION_WARMUP_PASSES corpora are the warm-up's, the rest timed
        self.corpora = []
        for k in range(CURATION_WARMUP_PASSES + self.n_cycles):
            d = self.ctx.path(f"corpus{k}")
            self.input_bytes = inputs.write_corpus(d, self.ctx.seed, SCALE, k)
            self.corpora.append(d)
        self.warmup_corpora = self.corpora[:CURATION_WARMUP_PASSES]
        self.corpora = self.corpora[CURATION_WARMUP_PASSES:]

    def warm_up(self) -> None:
        from bakery_big_data_spark.pipeline import curation

        lake = self.ctx.path("warmup_lake")
        for d in self.warmup_corpora:
            curation.run_curation_pipeline(self.spark, d, lake)
            shutil.rmtree(lake)

    def cycle(self, k: int) -> Cycle:
        from bakery_big_data_spark.pipeline import curation
        from bakery_big_data_spark.plans import REGISTRY

        corpus = self.corpora[k]
        c = Cycle()
        lake = self.ctx.path(f"lake{k}")
        self._op(
            c, f"pass{k}", lambda: curation.run_curation_pipeline(self.spark, corpus, lake)
        )
        self._settle()
        if not c.failed_ops:
            con = checks.connect(corpus)
            want = checks.oracle_multiset(con, REGISTRY["curation_pipeline_manifest"].oracle)
            con.close()
            df = lambda: checks.spark_multiset(
                self.spark.read.parquet(f"{lake}/curation_manifest")
            )
            self._check(c, "curation_manifest", df, want)
        self._drop(c, lake)
        return c


WORKLOADS = {w.name: w for w in (MedallionIncremental, ServingMix, CurationFresh)}
