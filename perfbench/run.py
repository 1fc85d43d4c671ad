"""spark-graft benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload headline_warm --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run pins its environment, builds
its inputs from ``--seed``, times set-up, warms up (checking every op's
output once on the way), then runs timed passes for ``--seconds`` and
prints a human-readable report followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans, job groups and the Spark event log.  All
working state lives under ``.perfbench_work/`` in the checkout and is
removed at exit.  ``perfbench/README.md`` says what each workload and
metric is for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import corpus  # noqa: E402
import oplists  # noqa: E402
import spans  # noqa: E402
from workloads import SF, WORKLOADS, Runner, canon_equal, check_etl  # noqa: E402

# Warm-up after the check pass: noop passes until one is no longer
# WARM_GAIN x faster than the best before it.  Another pass starts only
# while the noop warm-up stays within WARM_CAP_S, so a run's length stays
# inside the benchmark's time budget (at least one noop pass is run).
WARM_GAIN = 0.97
WARM_CAP_S = 17.0


# -- environment -----------------------------------------------------------
def pin_env(work: str, traced: bool) -> dict[str, str]:
    """Pin everything the engine reads from the environment; returns it."""
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # The engine's default driver heap (16g) is above the RAM of small boxes.
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, total_mb // 4)}m",
        # Python UDF workers import thrive_spark from the checkout.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",  # the same dict and set layouts in every Python worker
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # The JVMs' temp files (native libs, artifact dirs) go under the
        # work dir too, and they keep no perf-data file in /tmp.
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "{jvm_opts}" '
            + (spans.event_log_args(os.path.join(work, "eventlog")) if traced else "")
            + "pyspark-shell"
        ),
    }
    os.environ.update(pinned)
    tempfile.tempdir = pinned["TMPDIR"]
    os.chdir(work)  # spark-warehouse/, metastore_db/ and derby.log land here
    return pinned


# -- set-up ------------------------------------------------------------------
def timed_setup():
    """Import the engine, register every query, start the session."""
    t0 = time.perf_counter()
    import thrive_spark  # noqa: F401

    t1 = time.perf_counter()
    from thrive_spark import registry

    registry.load_all()
    t2 = time.perf_counter()
    from thrive_spark.session import get_spark

    spark = get_spark("perfbench")
    t3 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    t4 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "registry.load_all_s": t2 - t1,
        "session.get_spark_s": t3 - t2,
        "session.first_job_s": t4 - t3,
    }


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the session's JVM."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return hwm("self") + (hwm(proc.pid) if proc is not None else 0.0)


# -- inputs ------------------------------------------------------------------
def stage_etl(corpus_dir: str, staging: str) -> dict[int, int]:
    """Split ``events`` into hourly JSON-lines dirs, grouped by day.

    Day ``d`` (0-based from the first event) holds
    ``staging/<dd>/<yyyymmddhh>/part-0.json``.  Returns rows per day.
    """
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(corpus_dir, "events.parquet")).to_pandas()
    day = (ev["ts"].dt.normalize() - ev["ts"].min().normalize()).dt.days
    hour = ev["ts"].dt.strftime("%Y%m%d%H")
    ev["ts"] = ev["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    rows: dict[int, int] = {}
    for (d, h), part in ev[day < oplists.ETL_DAYS].groupby([day, hour]):
        out = os.path.join(staging, f"{d:02d}", h)
        os.makedirs(out)
        part.to_json(os.path.join(out, "part-0.json"), orient="records", lines=True)
        rows[d] = rows.get(d, 0) + len(part)
    return rows


# -- the run -----------------------------------------------------------------
class Tally:
    """Ops attempted and failed, with what went wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def oracle_db(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(runner: Runner, tally: Tally, con, res, pdf) -> None:
    """Compare one collected result with its DuckDB oracle; ids without an
    oracle must return at least one row."""
    if res.error:
        tally.op(False, f"{res.name}: {res.error}")
    elif res.kind != "query":
        return  # load cycles are checked together after the pass
    elif res.name in runner.oracle:
        tally.op(canon_equal(pdf, con.execute(runner.oracle[res.name]).df()),
                 f"{res.name}: differs from its oracle")
    else:
        tally.op(len(pdf) > 0, f"{res.name}: no rows")


def check_pass(runner: Runner, tally: Tally, staging_rows: dict[int, int]) -> float:
    """One pass that collects every result and checks it, then checks the
    ETL sink and ledger.  It is also the first warm-up pass."""
    ps = runner.new_pass()
    con = oracle_db(ps.sf_dir)
    took, _ = runner.run_pass(ps, lambda res, pdf: check_query(runner, tally, con, res, pdf))
    if runner.wl.cycles:
        problems = check_etl(runner.spark, ps, staging_rows)
        tally.op(not problems, "; ".join(problems))
    con.close()
    runner.end_pass(ps)
    return took


def warm_up(runner: Runner, tally: Tally, staging_rows) -> list[float]:
    """Check pass, then noop passes while pass time still falls; returns
    their times, the check pass first."""
    times = [check_pass(runner, tally, staging_rows)]
    spent = 0.0
    while len(times) == 1 or (times[-1] < WARM_GAIN * min(times[:-1]) and spent + times[-1] <= WARM_CAP_S):
        ps = runner.new_pass()
        took = runner.run_pass(ps)[0]
        runner.end_pass(ps)
        times.append(took)
        spent += took
    return times


def timed_passes(runner: Runner, tally: Tally, seconds: float, estimate: float, tracer=None):
    """As many passes as fit in ``seconds`` at the last warm-up pass time
    (at least one; with a tracer at least two, alternating untraced and
    traced).  Returns (untraced, traced) pass records."""
    n = max(2 if tracer else 1, round(seconds / estimate))
    plain, traced = [], []
    for k in range(n):
        on = tracer is not None and k % 2 == 1
        ps = runner.new_pass()
        runner.tracer = tracer if on else None
        restore = spans.hook_write_path(tracer) if on else None
        try:
            took, results = runner.run_pass(ps)
        finally:
            runner.tracer = None
            if restore:
                restore()
        for r in results:
            tally.op(r.error is None, f"{r.name}: {r.error}")
        record = {"pass_s": took, "ops": results, "days": ps.days}
        if on:
            record.update(index=ps.index, **etl_outputs(ps))
        runner.end_pass(ps)
        (traced if on else plain).append(record)
    return plain, traced


def etl_outputs(ps) -> dict[str, float]:
    def tree(path: str, suffix: str) -> tuple[int, int]:
        n = size = 0
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(suffix):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size

    return {
        "ledger_files": tree(os.path.join(ps.etl_root, "_ledger"), ".parquet")[0],
        "bytes_out": tree(os.path.join(ps.etl_root, "out"), ".parquet")[1],
        "bytes_in": tree(os.path.join(ps.etl_root, "in"), ".json")[1],
    }


def run_exhibits(runner: Runner, tally: Tally, tracer) -> dict:
    """Run each of ``oplists.EXHIBITS`` once, traced and checked, in a pass
    of their own; returns that pass's record."""
    ps = runner.new_pass()
    con = oracle_db(ps.sf_dir)
    harness = {}
    runner.tracer = tracer
    try:
        for qid in oplists.EXHIBITS:
            res, pdf = runner.run_op(ps, "query", qid, collect=True)
            check_query(runner, tally, con, res, pdf)
            harness[qid] = res.seconds
    finally:
        runner.tracer = None
    con.close()
    runner.end_pass(ps)
    return {"index": ps.index, "harness": harness}


def end_to_end(setup, passes) -> dict[str, float]:
    lat = [r.seconds for p in passes for r in p["ops"]]
    return {
        "setup_s": setup["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_geomean_s": statistics.geometric_mean(lat),
    }


def per_layer(wl, tracer, setup, plain, traced, exhibits, conf_changed, rss, event_dir) -> dict[str, float]:
    """Per-layer metrics: medians over the traced passes, plus set-up,
    session, process and tracing figures and the exhibits' numbers."""
    from thrive_spark import registry

    module_of = {}
    for qid in wl.queries + oplists.EXHIBITS:
        mod = registry.QUERIES[qid].__module__
        if mod.startswith("thrive_spark.sources.") and mod.rsplit(".", 1)[1] in spans.WRITER_MODULES:
            module_of[qid] = mod.rsplit(".", 1)[1]
    totals = spans.task_metrics_by_group(event_dir)
    rows = []
    for rec in traced:
        harness = {r.name: r.seconds for r in rec["ops"]}
        row = spans.pass_layers(tracer, rec["index"], harness, module_of, totals)
        row["incremental.ledger_files"] = rec["ledger_files"]
        row["pipeline.bytes_out_per_byte_in"] = rec["bytes_out"] / rec["bytes_in"] if rec["bytes_in"] else 0.0
        rows.append(row)
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    m["iceberg_lite.evolved_maintenance_jobs"] = 0.0
    if exhibits:
        ex = spans.pass_layers(tracer, exhibits["index"], exhibits["harness"], module_of, totals)
        in_pass = {module_of.get(q) for q in wl.queries}
        for mod in {module_of[q] for q in oplists.EXHIBITS} - in_pass:
            for k in ("build_s", "jobs"):
                m[f"{mod}.{k}"] = ex[f"{mod}.{k}"]
        op = next(s for s in tracer.roots() if s.name == "op" and s.attrs["pass_index"] == exhibits["index"]
                  and s.attrs["op"] == oplists.ICEBERG_EXHIBIT)
        m["iceberg_lite.evolved_maintenance_jobs"] = float(sum(s.jobs for s in tracer.subtree(op)))
    for k in ("registry.load_all_s", "session.get_spark_s", "session.first_job_s"):
        m[k] = setup[k]
    traced_s = statistics.median(p["pass_s"] for p in traced)
    plain_s = statistics.median(p["pass_s"] for p in plain)
    m.update({
        "session.conf_keys_changed": float(conf_changed),
        "proc.peak_rss_mb": rss,
        "trace.pass_s": traced_s,
        "trace.overhead_s": traced_s - plain_s,
    })
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "thrive_spark", "registry.py")):
        print(f"perfbench: no thrive_spark package under {ROOT}; run it from a checkout", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        env = pin_env(work, traced)
        t0 = time.perf_counter()
        corpus_dir = corpus.write(os.path.join(work, "corpus"), SF, args.seed)
        staging = os.path.join(work, "staging")
        staging_rows = stage_etl(corpus_dir, staging) if wl.cycles else {}
        gen_s = time.perf_counter() - t0

        spark, setup = timed_setup()
        conf_before = spark.conf.getAll

        runner = Runner(spark, wl, args.seed, work, corpus_dir, staging)
        tally = Tally()
        warm = warm_up(runner, tally, staging_rows)

        tracer = spans.Tracer(spark) if traced else None
        plain, tpasses = timed_passes(runner, tally, args.seconds, warm[-1], tracer)
        exhibits = run_exhibits(runner, tally, tracer) if traced and wl.cycles else None
        conf_after = spark.conf.getAll
        conf_changed = sum(conf_before.get(k) != conf_after.get(k) for k in conf_before.keys() | conf_after.keys())
        rss = peak_rss_mb(spark)
        shutdown(spark)
        spark = None

        if traced:
            metrics = per_layer(wl, tracer, setup, plain, tpasses, exhibits, conf_changed, rss,
                                os.path.join(work, "eventlog"))
        else:
            metrics = end_to_end(setup, plain)
        report(wl, args, env, staging_rows, gen_s, warm, plain, len(tpasses), tally, metrics)
        print(json.dumps({
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": spans.unit_of(k)} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            os.rmdir(os.path.dirname(work))


def report(wl, args, env, staging_rows, gen_s, warm, passes, n_traced, tally, metrics) -> None:
    """Human-readable record, printed before the result line."""
    ops = [r for p in passes for r in p["ops"]]
    lat = [r.seconds for r in ops]
    cycles = [r.seconds for r in ops if r.kind == "cycle"]
    print(f"# perfbench {wl.name} seed={args.seed} seconds={args.seconds:g} trace={args.trace} sf={SF}")
    print(f"# env {json.dumps(env, sort_keys=True)}")
    print(f"# inputs generated in {gen_s:.2f} s")
    print("# warm-up passes (s; the first is the check pass) " + " ".join(f"{t:.2f}" for t in warm))
    print("# timed passes (s) " + " ".join(f"{p['pass_s']:.2f}" for p in passes)
          + f"; ops {len(ops)} ({len(cycles)} load cycles)")
    by_op: dict[str, list[float]] = {}
    for r in ops:
        by_op.setdefault(r.name if r.kind == "query" else "load_cycle", []).append(r.seconds)
    print("# op medians (s) " + " ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in sorted(by_op.items(), key=lambda kv: -statistics.median(kv[1]))))
    n = {"setup_s": 1, "pass_s": len(passes), "op_geomean_s": len(lat)}
    if args.trace:
        print(f"# per-layer values: median over {n_traced} traced passes, 0 where the workload has no such layer")
    for k, v in metrics.items():
        print(f"#   {k:<40} {v:>14.6g} {spans.unit_of(k):<6}" + (f" n={n[k]}" if k in n else ""))
    if not args.trace:
        print(f"#   {'op_p50_s':<40} {statistics.median(lat):>14.6g} {'s':<6} n={len(lat)} (not gated)")
        print(f"#   {'op_p90_s':<40} {'n/a':>14} {'s':<6} n={len(lat)} (needs >= 100 ops per run)")
        if cycles:
            landed = sum(staging_rows[d] for p in passes for d in p["days"])
            print(f"#   {'cycle_p50_s':<40} {statistics.median(cycles):>14.6g} {'s':<6} n={len(cycles)} (not gated)")
            print(f"#   {'cycle_p90_s':<40} {'n/a':>14} {'s':<6} n={len(cycles)} (needs >= 100 cycles per run)")
            print(f"#   {'rows_loaded_per_s':<40} {landed / sum(cycles):>14.6g} {'rows/s':<6} n={len(cycles)} (not gated)")
    print(f"#   {'fail_ratio':<40} {tally.failed / tally.attempted:>14.6g} {'ratio':<6} "
          f"n={tally.attempted} ({tally.failed} failed)")
    for p in tally.problems[:20]:
        print(f"# FAIL {p}")


if __name__ == "__main__":
    sys.exit(main())
