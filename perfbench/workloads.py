"""The two workloads: what one pass does, and how its outputs are checked.

A pass runs the workload's frozen op list in a seed-shuffled order, one
op at a time (closed loop, one client).  An op is either a registered
query id (build through ``registry.QUERIES[qid](spark, sf_dir)``, then a
``noop`` write that executes the whole plan) or one thrive load cycle
(``Pipeline.run`` over the day of hourly JSON dirs that arrived for it).

``headline_warm`` reads one corpus path for the whole run, so every
``sf_dir``-keyed cache in the engine is hit after warm-up.
``sweep_cold`` gives every pass a fresh copy of the corpus under a new
path and a fresh ETL landing root, output and ledger, so those caches
miss on every pass and every pass does the same work.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import oplists

# Scale factor of the generated corpus.  0.01 is the grading
# scale (about 60k lineitem rows); one warm headline pass takes a few
# seconds there, so a run holds several passes.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    cycles: int  # thrive load cycles per pass (one arriving day each)
    fresh_copy: bool  # new corpus path (and ETL roots) for every pass


WORKLOADS = {
    "headline_warm": Workload("headline_warm", oplists.HEADLINE, 0, False),
    "sweep_cold": Workload(
        "sweep_cold", oplists.SWEEP_READS + oplists.SWEEP_WRITERS, oplists.CYCLES_PER_PASS, True
    ),
}


@dataclass
class OpResult:
    kind: str  # "query" | "cycle"
    name: str
    seconds: float
    error: str | None = None


@dataclass
class PassState:
    index: int
    sf_dir: str
    etl_root: str
    days: list[int] = field(default_factory=list)  # arrival order of ETL days


class Runner:
    """Runs passes of one workload against one session.

    ``tracer`` is ``None`` outside traced passes; with a tracer each op
    becomes an ``op`` span with ``build``/``plan``/``materialize`` (query)
    or ``cycle`` (load) children.
    """

    def __init__(self, spark, workload: Workload, seed: int, work: str, corpus_dir: str, staging: str):
        from thrive_spark import registry

        self.spark = spark
        self.wl = workload
        self.rng = random.Random(seed)
        self.work = work
        self.corpus_dir = corpus_dir
        self.staging = staging  # hourly JSON dirs, one subdir per day
        self.queries = registry.QUERIES
        self.oracle = registry.ORACLE
        self.tracer = None
        self._n_pass = 0

    # -- pass set-up (untimed) -------------------------------------------
    def new_pass(self) -> PassState:
        k = self._n_pass
        self._n_pass += 1
        base = os.path.join(self.work, f"pass{k:03d}")
        if self.wl.fresh_copy:
            sf_dir = os.path.join(base, "corpus")
            shutil.copytree(self.corpus_dir, sf_dir)
        else:
            sf_dir = self.corpus_dir
        etl_root = os.path.join(base, "etl")
        os.makedirs(os.path.join(etl_root, "in"), exist_ok=True)
        days = self.rng.sample(range(oplists.ETL_DAYS), self.wl.cycles)
        return PassState(k, sf_dir, etl_root, days)

    def end_pass(self, ps: PassState) -> None:
        shutil.rmtree(os.path.join(self.work, f"pass{ps.index:03d}"), ignore_errors=True)

    def order(self) -> list[tuple[str, str]]:
        ops = [("query", q) for q in self.wl.queries]
        ops += [("cycle", str(i)) for i in range(self.wl.cycles)]
        self.rng.shuffle(ops)
        return ops

    # -- ops -------------------------------------------------------------
    def _span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def run_query(self, qid: str, sf_dir: str, collect: bool = False):
        """Build + materialize one query; returns the pandas frame if ``collect``."""
        with self._span("build", qid=qid):
            df = self.queries[qid](self.spark, sf_dir)
        if self.tracer is not None:
            with self._span("plan", qid=qid):
                df._jdf.queryExecution().executedPlan()
        with self._span("materialize", qid=qid):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def arrive(self, ps: PassState, cycle: int) -> None:
        """Land one day's hourly dirs in the pass's landing root (hard links)."""
        src = os.path.join(self.staging, f"{ps.days[cycle]:02d}")
        for hour in os.listdir(src):
            dst = os.path.join(ps.etl_root, "in", hour)
            os.makedirs(dst)
            for f in os.listdir(os.path.join(src, hour)):
                os.link(os.path.join(src, hour, f), os.path.join(dst, f))

    def run_cycle(self, ps: PassState) -> list[str]:
        from thrive_spark.sources.pipeline import Pipeline

        spec = oplists.etl_spec(ps.etl_root)
        return Pipeline(spec, self.spark).run()

    def run_op(self, ps: PassState, kind: str, name: str, collect: bool = False):
        """Run one op, timing it from outside; returns (OpResult, output)."""
        out = None
        if kind == "cycle":
            self.arrive(ps, int(name))
        t0 = time.perf_counter()
        try:
            with self._span("op", kind=kind, op=name, pass_index=ps.index):
                if kind == "query":
                    out = self.run_query(name, ps.sf_dir, collect)
                else:
                    with self._span("cycle", cycle=name):
                        out = self.run_cycle(ps)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            return OpResult(kind, name, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"[:300]), None
        return OpResult(kind, name, time.perf_counter() - t0), out

    def run_pass(self, ps: PassState, on_op: Callable[[OpResult, object], None] | None = None) -> tuple[float, list[OpResult]]:
        results = []
        t0 = time.perf_counter()
        for kind, name in self.order():
            res, out = self.run_op(ps, kind, name, collect=on_op is not None)
            results.append(res)
            if on_op is not None:
                on_op(res, out)
        return time.perf_counter() - t0, results


# -- output checks (run once per run, outside the timed passes) -----------
def canon_equal(spark_pdf, oracle_pdf) -> bool:
    """Order-insensitive equality through ``tools/driver_check.canon``."""
    saved = sys.path[:]
    try:
        from tools.driver_check import canon  # its import prepends a fixed repo path
    finally:
        sys.path[:] = saved
    return canon(spark_pdf) == canon(oracle_pdf)


def check_etl(spark, ps: PassState, staging_rows: dict[int, int]) -> list[str]:
    """Sink rows == rows landed, and the ledger lists each landed dir once."""
    from collections import Counter

    import pyarrow.parquet as pq

    problems = []
    expected = sum(staging_rows[d] for d in ps.days)
    out = os.path.join(ps.etl_root, "out")
    got = spark.read.parquet(out).count() if os.path.isdir(out) else 0
    if got != expected:
        problems.append(f"etl sink rows {got} != landed {expected}")
    ledger = os.path.join(ps.etl_root, "_ledger")
    paths = pq.read_table(ledger).column("path").to_pylist() if os.path.isdir(ledger) else []
    landed = {os.path.abspath(os.path.join(ps.etl_root, "in", h)) for h in os.listdir(os.path.join(ps.etl_root, "in"))}
    dup = [p for p, n in Counter(paths).items() if n != 1]
    if dup or set(paths) != landed:
        problems.append(f"etl ledger: {len(dup)} duplicated, {len(landed ^ set(paths))} missing/extra")
    return problems
