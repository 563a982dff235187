"""Chronon core benchmark: point-in-time backfill and lambda serving.

Run from the root of a chronon_spark checkout:

    python3 perfbench/run.py --workload backfill_hopped --seed 1 --seconds 12 --trace 0

One run starts a ``local[nproc]`` session, sets up the seeded inputs several
times (the median counts as set-up time), warms up with one or two operations, then
repeats the workload's operation for ``--seconds`` and checks every output
against the oracles. ``--trace 1`` instead measures untraced operations, then
traced ones in a second session with the Spark event log on, then untraced
ones again, and reports per-layer metrics. Human-readable lines go first;
the last line of stdout is one JSON object. See README.md for the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORKLOADS = ("backfill_hopped", "backfill_modular_exact", "serving_lambda")
SETUP_PASSES = 3
# the JVM's JIT makes the first operations slower: 11.4, 8.0, 7.2, 6.6, 6.0 s
# on backfill_hopped and 4.4, 3.5, 3.5, 3.1, 3.0 s on serving_lambda with 4
# cores. A fixed count of warm-ups puts the timed operations at the same
# place on the curve in every run; serving's are cheap, so it takes more
WARMUP_OPS = {"backfill_hopped": 1, "backfill_modular_exact": 1, "serving_lambda": 2}
RSS_PERIOD_S = 0.2
JVM_OPTS = [
    # the whole heap resident from the start, so peak RSS does not depend
    # on how far the collector happened to spread over it
    "-Xms2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: str = ""):
    """The fixed settings of every run: local[nproc], 2*nproc shuffle
    partitions, 2 GB driver, scratch space inside the run directory."""
    from chronon_spark.session import build_session

    os.makedirs(f"{work}/tmp", exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": " ".join(JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp"]),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.eventLog.enabled": str(bool(event_log)).lower(),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(master=f"local[{nproc()}]", app_name="perfbench",
                          shuffle_partitions=2 * nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the JVM it runs in, and wait for the
    JVM (its Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


class PeakRss(threading.Thread):
    """Samples the resident set of the JVM and its Python workers from /proc
    and keeps the peak. Other descendants of the JVM are not counted: a
    child it spawns shares the JVM's memory until it execs, so counting it
    would add the whole JVM again."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * self._page

    def _tree_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            try:
                exe = os.path.basename(os.readlink(f"/proc/{p}/exe"))
                if p == self.pid or exe.startswith("python"):
                    total += self._rss(p)
            except (OSError, IndexError, ValueError):
                pass
            todo += [c for c, pp in parent.items() if pp == p]
        return total

    def run(self) -> None:
        while not self._stop_event.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def percentile_line(values: list) -> str:
    """Median plus the highest percentile with ten samples beyond it."""
    xs = sorted(values)
    line = f"median {statistics.median(xs):.4f}"
    if len(xs) > 10:
        q = 100 * (len(xs) - 10) // len(xs)
        line += f" p{q} {xs[math.ceil(q * len(xs) / 100) - 1]:.4f}"  # nearest rank
    return f"{line} (n={len(xs)})"


def measure(spark, prep, seconds: float, tracer, workloads) -> list:
    """Operations for ``seconds`` (at least one), each as
    ``(wall or None, output or None)``; None marks an operation that
    raised."""
    ops = []
    end = time.time() + seconds
    while not ops or time.time() < end:
        t = time.time()
        try:
            with tracer.span(f"{prep.name}.op"):
                out = workloads.run_op(spark, prep, tracer)
            ops.append((time.time() - t, out))
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            ops.append((None, None))
    return ops


def verdict(spark, prep, ops: list, seed: int, workloads) -> tuple:
    """(walls of the correct operations, failed count), after checking
    every output; mismatches are printed."""
    done = [i for i, (w, _) in enumerate(ops) if w is not None]
    bad = workloads.check(spark, prep, [ops[i][1] for i in done], seed)
    for j, msg in bad[:20]:
        print(f"  MISMATCH op {done[j]}: {msg}")
    failed = (set(range(len(ops))) - set(done)) | {done[j] for j, _ in bad}
    return [ops[i][0] for i in done if i not in failed], len(failed)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, sizes) -> dict:
    """One benchmark run; returns the result object."""
    import bench
    import workloads
    from tracing import Tracer

    canary = bench.host_canary()
    print(f"perfbench {workload} seed={seed} local[{nproc()}] "
          f"host_canary wall_sec={canary['wall_sec']} score={canary['score']}")
    t0 = time.time()
    spark = start_session(work)
    session_s = time.time() - t0
    rss = PeakRss(spark.sparkContext._gateway.proc.pid)
    rss.start()
    off = Tracer(spark, "untraced", enabled=False)
    passes, prep = [], None
    for k in range(1 if trace else SETUP_PASSES):
        t = time.time()
        p = workloads.prepare(workload, spark, f"{work}/setup-{k}", seed, sizes, off)
        passes.append(time.time() - t)
        prep = prep or p
    for _ in range(WARMUP_OPS[workload]):
        workloads.run_op(spark, prep, off)
    ops = measure(spark, prep, seconds, off, workloads)
    if trace:
        return traced(spark, prep, seed, seconds, work, ops, rss, workloads)
    walls, failed = verdict(spark, prep, ops, seed, workloads)
    stop_jvm()
    peak = rss.stop()
    print(f"  set-up: session {session_s:.3f} s + passes "
          f"{[round(x, 3) for x in passes]} s")
    print(f"  op_s {percentile_line(walls) if walls else 'n/a'}; "
          f"{prep.expected_rows} rows per op")
    print(f"  op walls {[round(w, 3) for w in walls]} s")
    print(f"  failed_ratio {failed}/{len(ops)} = {failed / len(ops):.4f}")
    metrics = {"setup_s": (session_s + statistics.median(passes), "s"),
               "peak_rss_mb": (peak / 1e6, "MB")}
    if walls:
        metrics["op_s"] = (statistics.median(walls), "s")
        metrics["op_rows_per_s"] = (prep.expected_rows / metrics["op_s"][0], "1/s")
    return result(ops, failed, metrics)


def result(ops: list, failed: int, metrics: dict) -> dict:
    for k, (v, u) in metrics.items():
        print(f"  {k} {v:.4f} {u}")
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def traced(spark, prep, seed: int, seconds: float, work: str, untraced: list,
           rss, workloads) -> dict:
    """The per-layer run: after the untraced operations, a second session
    with the event log on repeats the serving refresh and the operations
    inside spans; Spark's metrics are attributed to the spans. A third,
    untraced session measures again, so the JIT warming over the run
    biases neither side of ``tracing_overhead_pct``."""
    from tracing import EventLog, Tracer

    spark.stop()
    spark = start_session(work, event_log=f"{work}/eventlog")
    tracer = Tracer(spark, f"{prep.name}-{seed}-{os.getpid()}", enabled=True)
    if prep.name == "serving_lambda":
        workloads.refresh(spark, prep, tracer, "refresh-traced")
    workloads.bind(spark, prep)
    ops = measure(spark, prep, seconds, tracer, workloads)
    walls, failed = verdict(spark, prep, ops, seed, workloads)
    if prep.name == "backfill_hopped":
        # the exact-path counterpart: the same Join and input through the
        # modular nodes, so the kernel-path layers are measured here too
        exact = dataclasses.replace(prep, name="backfill_modular_exact")
        extra = measure(spark, exact, 0, tracer, workloads)
        failed += verdict(spark, exact, extra, seed, workloads)[1]
        ops += extra
        prep.ops_run = exact.ops_run  # keep later outputs on fresh paths
    qps = workloads.kernel_qps(spark, prep)
    refresh_rows = {t: spark.read.parquet(f"{prep.refresh_dir}/{t}").count()
                    for t in ("upload", "tiles", "compacted")} if prep.refresh_dir else {}
    spark.stop()
    spark = start_session(work)
    workloads.bind(spark, prep)
    untraced += measure(spark, prep, seconds, Tracer(spark, "untraced", False), workloads)
    stop_jvm()
    rss.stop()
    spans = tracer.with_self_time()
    metrics = layer_metrics(EventLog(f"{work}/eventlog"), spans, prep, refresh_rows)
    metrics["kernel.sawtooth.compute_asof_features.qps"] = (qps, "1/s")
    base = statistics.median(w for w, _ in untraced if w is not None)
    overhead = (statistics.median(walls) / base - 1) * 100 if walls else 0.0
    metrics["tracing_overhead_pct"] = (overhead, "%")
    out = os.path.join(ROOT, ".perfbench", "traces", f"{tracer.run_id}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"spans": spans, "metrics": metrics}, f, indent=1)
    print(f"  spans and metrics written to {os.path.relpath(out, ROOT)}")
    return result(ops, failed, metrics)


def layer_metrics(log, spans: list, prep, refresh_rows: dict) -> dict:
    """Every per-layer metric, per operation (refresh layers: per call).
    A layer the workload never calls reads 0."""
    from tracing import covered, driver_s, jobs_by_span

    by_span = jobs_by_span(log, spans)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def jobs(s) -> list:  # jobs of the span and of every span inside it
        return by_span[s["id"]] + [j for k in kids.get(s["id"], []) for j in jobs(k)]

    def named(name: str) -> list:
        return [s for s in spans if s["name"] == name or s["name"].startswith(name + ".")]

    ops = named(f"{prep.name}.op")
    n = max(len(ops), 1)

    def per_op(ss, f) -> float:
        return sum(f(s) for s in ss) / n

    def per_call(ss, f) -> float:
        return sum(f(s) for s in ss) / len(ss) if ss else 0.0

    def wall(s) -> float:
        return s["end"] - s["start"]

    def job_wall(js) -> float:
        return covered([(j["start"], j["end"]) for j in js])

    m: dict = {}
    bj = named("plans.backfill_join.backfill_join")
    m["plans.backfill_join.backfill_join.wall_s"] = (per_op(bj, wall), "s")
    m["plans.backfill_join.backfill_join.driver_s"] = (
        per_op(bj, lambda s: driver_s(s, jobs(s))), "s")
    m["plans.backfill_join.backfill_join.jobs"] = (per_op(bj, lambda s: len(jobs(s))), "count")

    own = {s["id"] for s in ops}
    backfill_jobs = [j for s in bj + named("plans.modular.run_join_node")
                     if s["parent"] in own for j in jobs(s)]
    write = [j for j in backfill_jobs if not j["lineage"]]
    lineage = [j for j in backfill_jobs if j["lineage"]]
    m["plans.backfill.write.wall_s"] = (job_wall(write) / n, "s")
    m["plans.backfill.write.executor_s"] = (log.executor_s(write) / n, "s")
    m["plans.backfill.write.shuffle_write_mb"] = (log.shuffle_write_mb(write) / n, "MB")
    m["plans.backfill.write.spill_mb"] = (log.spill_mb(write) / n, "MB")
    m["plans.backfill.lineage.wall_s"] = (job_wall(lineage) / n, "s")
    m["plans.backfill.lineage.jobs"] = (len(lineage) / n, "count")

    op_jobs = [j for s in ops for j in jobs(s)]
    for fam in ("Window", "HashAggregate", "SortMergeJoin"):
        m[f"spark.{fam}.executor_s"] = (log.family_executor_s(op_jobs, fam) / n, "s")
    for fam in ("HashAggregate", "SortMergeJoin", "Scan"):
        m[f"spark.{fam}.rows_out"] = (
            log.family_metric(op_jobs, fam, "number of output rows") / n, "count")
    m["spark.Exchange.shuffle_write_mb"] = (
        log.family_metric(op_jobs, "Exchange", "shuffle bytes written") / 1e6 / n, "MB")

    # kernel-path layers: over the exact-path operations (on backfill_hopped,
    # the exact counterpart the traced run adds)
    exact = named("backfill_modular_exact.op")
    ne = max(len(exact), 1)
    exact_jobs = [j for s in exact for j in jobs(s)]
    fam = "FlatMapGroupsInPandas"
    m[f"spark.{fam}.executor_s"] = (log.family_executor_s(exact_jobs, fam) / ne, "s")
    m[f"spark.{fam}.rows_out"] = (
        log.family_metric(exact_jobs, fam, "number of output rows") / ne, "count")
    m[f"spark.{fam}.arrow_to_python_mb"] = (
        log.family_metric(exact_jobs, fam, "data sent to Python workers") / 1e6 / ne, "MB")
    for label in ("source", "part-url", "part-dom", "merge"):
        ss = named(f"plans.modular.run_join_node.{label}")
        m[f"plans.modular.run_join_node.{label}.wall_s"] = (sum(map(wall, ss)) / ne, "s")
        m[f"plans.modular.run_join_node.{label}.executor_s"] = (
            sum(log.executor_s(jobs(s)) for s in ss) / ne, "s")

    for name, table, with_executor in (
        ("plans.upload.upload_group_by", "upload", True),
        ("operators.asof_hopped.hop_irs_for", "tiles", False),
        ("plans.upload.compact_tiles", "compacted", True),
    ):
        ss = named(name)
        m[f"{name}.wall_s"] = (per_call(ss, wall), "s")
        if with_executor:
            m[f"{name}.executor_s"] = (per_call(ss, lambda s: log.executor_s(jobs(s))), "s")
        m[f"{name}.rows_out"] = (refresh_rows.get(table, 0), "count")

    fj = named("plans.fetcher.fetch_join")
    m["plans.fetcher.fetch_join.wall_s"] = (per_call(fj, wall), "s")
    m["plans.fetcher.fetch_join.driver_s"] = (per_call(fj, lambda s: driver_s(s, jobs(s))), "s")
    m["plans.fetcher.fetch_join.jobs"] = (per_call(fj, lambda s: len(jobs(s))), "count")
    m["plans.fetcher.fetch_join.executor_s"] = (
        per_call(fj, lambda s: log.executor_s(jobs(s))), "s")
    m["plans.fetcher.fetch_join.rows_scanned_per_request"] = (
        per_call(fj, lambda s: log.input_rows(jobs(s))) / prep.request_rows, "count")

    m["spark.run.executor_s"] = (log.executor_s(op_jobs) / n, "s")
    m["spark.run.shuffle_write_mb"] = (log.shuffle_write_mb(op_jobs) / n, "MB")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Chronon core benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "chronon_spark", "__init__.py")):
        print("perfbench: run from the root of a chronon_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    from inputs import Sizes

    try:
        res = run(a.workload, a.seed, a.seconds, bool(a.trace), work, Sizes())
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
