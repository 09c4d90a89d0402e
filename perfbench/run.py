#!/usr/bin/env python3
"""Benchmark of the POS engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload pos_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It derives its inputs from the seed
(``inputs.py``), starts one session on ``local[<cores>]``, measures the
set-up (session start plus one untimed warm pass), then runs the
workload's operations one after another (a closed loop, one client) in
whole rounds until ``--seconds`` have passed. Every result is checked
against its DuckDB oracle outside the measured regions (``check.py``).

The end-to-end figures are CPU seconds: user plus system time of this
process and every process under it (the JVM and any Python workers),
less the JVM's compiler and garbage-collector threads, over the set-up
and per timed operation. Wall-clock figures are printed too, and the
traced run reports them per layer, but on a shared host they measure
the neighbours as much as the program: with three busy loops on the
same four cores, a rebuild's wall time rose by 32% and its CPU time
moved by 2%.

Human-readable lines come first; the last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
every timed operation is traced, the session writes a Spark event log,
and the metrics are the per-layer ones (``layers.py``). The exit status
is 0 only when every check passed. All files go under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

import inputs
import layers

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s_per_op", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", choices=("drop_row",), help="corrupt one checked result (self-tests)")
    return p.parse_args(argv)


def persistent_ids(spark) -> set[int]:
    return {int(str(k)) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def retained(spark, before: set[int]) -> tuple[int, float]:
    """Persistent RDDs not in ``before``, and their size in MB."""
    new = persistent_ids(spark) - before
    size = sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() in new
    )
    return len(new), size / 1e6


CLK_TCK = os.sysconf("SC_CLK_TCK")
# The JVM's own threads: the JIT compiler, the code-cache sweeper and the
# garbage collector. Their CPU time moves with when the JVM chooses to
# compile or start a concurrent collection (one G1 marking cycle more or
# less in a rebuild moved its CPU time by up to a tenth), so it is left
# out.
JVM_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread", "GC Thread", "G1 ")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            text = f.read()
    except OSError:  # it ended meanwhile
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live process
    under it (the JVM, any Python workers), each with the children it
    has reaped, less the JVM's own threads."""
    parent = {}
    for pid in os.listdir("/proc"):
        st = _stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st:
            parent[int(pid)] = int(st[1][1])
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += [p for p, pp in parent.items() if pp == pid]
    ticks = 0
    for pid in tree:
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        ticks += sum(int(v) for v in st[1][11:15])  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # it ended meanwhile
            tids = []
        for tid in tids:
            th = _stat(f"/proc/{pid}/task/{tid}/stat")
            if th and th[0].startswith(JVM_THREADS):
                ticks -= int(th[1][11]) + int(th[1][12])
    return ticks / CLK_TCK


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file the session writes inside the work directory."""
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join((
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData",
            # C1 only: compilation ends within the warm pass instead of
            # running beside the timed loop (with C2 it took 1.5-2 cores
            # through the first timed round); fixed compiler threads keep
            # the threads tree_cpu_s() leaves out alive
            "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads",
        )),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Run:
    """The closed loop: operations are executed, timed and checked one
    at a time; failures are counted, never raised."""

    def __init__(self, wl, checker):
        self.wl = wl
        self.checker = checker
        self.attempted = 0
        self.failed = 0
        self.records: list[tuple[str, float, int, float]] = []  # op, latency s, input rows, CPU s

    def execute(self, op: str):
        rows = self.wl.prepare(op)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = self.wl.run(op)
        except Exception as exc:  # boundary: a failing operation is counted and the loop goes on
            traceback.print_exc()
            self.checker.mismatches.append(f"{op}: raised {type(exc).__name__}: {exc}")
            out = None
        lat = time.perf_counter() - t0
        return op, lat, rows, out, tree_cpu_s() - cpu0

    def check(self, op: str, out) -> None:
        self.attempted += 1
        self.failed += out is None or not self.wl.check(op, out)

    def check_final(self) -> None:
        try:
            ok = self.wl.check_final()
        except Exception as exc:  # boundary: report the failure in the result
            traceback.print_exc()
            self.checker.mismatches.append(f"final check raised {type(exc).__name__}: {exc}")
            ok = False
        self.attempted += 1
        self.failed += not ok


def workload_metrics(run: Run) -> dict[str, float]:
    """The per-workload figures (refresh and query latencies, error rate)."""
    lat = [r[1] for r in run.records]
    busy = sum(lat)
    refresh = [r[1] for r in run.records if r[0] == "refresh"]
    queries = [r[1] for r in run.records if r[0] not in ("refresh", "rebuild")]
    tail = refresh[len(refresh) - max(1, len(refresh) // 4):]
    median = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
    import workloads

    return {
        "workload.refresh_p50_s": median(refresh),
        "workload.refresh_tail_s": median(tail),
        "workload.query_p50_s": median(queries),
        "workload.query_p90_s": workloads.quantile(queries, 0.9) if queries else 0.0,
        "workload.queries_per_s": len(queries) / busy if queries else 0.0,
        "workload.ops_per_s": len(lat) / busy,
        "workload.rows_per_s": sum(r[2] for r in run.records) / busy,
        "workload.error_rate": run.failed / run.attempted,
    }


def per_layer_metrics(tracer, jobs, n_ops, fixed: dict[str, float]):
    """Every per-layer metric of ``layers.per_layer_names()``, per traced op."""
    layers.attribute_jobs(tracer.spans, jobs)
    table = layers.layer_table(tracer.spans, n_ops)
    top = [s for s in tracer.spans if s["parent"] is None]
    in_ops = [j for j in jobs if any(s["start"] <= j["submit"] <= s["end"] for s in top)]
    m = dict(fixed)
    for layer in layers.LAYERS[1:]:
        for name, _ in layers.LAYER_METRICS:
            m[f"{layer}.{name}"] = table[layer][name]
    m["sources.tables.input_mb"] = sum(j["input_bytes"] for j in in_ops) / layers.MB / n_ops
    for layer in layers.WRITE_LAYERS:
        m[f"{layer}.write_mb"] = table[layer]["write_mb"]
    for layer in layers.BLOCK_LAYERS:
        m[f"{layer}.blocks_added"] = table[layer]["blocks_added"]
    m["trace.overhead_s"] = tracer.overhead_s / n_ops
    return m, table


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    try:
        import workloads
        from check import Checker
        from pos_pipeline_core_etl_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata files

    # inputs are derived before anything is timed
    sf_dir = os.path.join(work, "input")
    counts = inputs.derive_tables(sf_dir, args.seed, wl_cls.fraction)
    cores = len(os.sched_getaffinity(0))

    t_setup, cpu_setup = time.perf_counter(), tree_cpu_s()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf=session_conf(work, bool(args.trace)))
    session_s = time.perf_counter() - t_setup
    checker = Checker(sf_dir, fault=args.fault)
    tracer = layers.Tracer(spark, enabled=False)
    wl = wl_cls(SimpleNamespace(spark=spark, tracer=tracer, checker=checker, work=work,
                                sf_dir=sf_dir, seed=args.seed, counts=counts))
    run = Run(wl, checker)
    warm = [run.execute(op) for op in wl.warm_ops()]
    setup_s, setup_wall_s = tree_cpu_s() - cpu_setup, time.perf_counter() - t_setup
    for op, _lat, _rows, out, _cpu in warm:
        run.check(op, out)
    before = persistent_ids(spark)

    # timed closed loop: whole rounds until --seconds have passed
    tracer.enabled = bool(args.trace)
    ops = wl.ops()
    loop_start = time.perf_counter()
    rounds = 0
    while rounds < wl.max_rounds:
        for _ in range(wl.round_len()):
            tracer.pass_id = len(run.records)
            op, lat, rows, out, cpu = run.execute(next(ops))
            run.records.append((op, lat, rows, cpu))
            run.check(op, out)
        rounds += 1
        if time.perf_counter() - loop_start >= args.seconds:
            break
    tracer.enabled = False

    n_retained, retained_mb = retained(spark, before)
    peak_rss = jvm_peak_rss_mb(spark)
    run.check_final()
    stop_session(spark)
    checker.close()

    lat = [r[1] for r in run.records]
    cpu = [r[3] for r in run.records]
    end_to_end = {"setup_s": setup_s, "cpu_s_per_op": sum(cpu) / len(cpu)}
    per_workload = workload_metrics(run)
    print(f"workload {args.workload} seed {args.seed} cores {cores} input rows "
          + " ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    print("warm pass: " + ", ".join(f"{w[0]} {w[1]:.2f}" for w in warm))
    print(f"timed: {len(lat)} ops in {rounds} round(s), {sum(lat):.3f} s busy, {sum(cpu):.3f} s CPU: "
          + ", ".join(f"{r[0]} {r[1]:.2f}" for r in run.records))
    shown = [(n, u, end_to_end[n]) for n, u in END_TO_END]
    shown += [("setup_wall_s", "s", setup_wall_s), ("op_p50_s", "s", statistics.median(lat))]
    shown += [(n[len("workload."):], u, per_workload[n]) for n, u in layers.WORKLOAD_METRICS]
    shown += [("retained_blocks", "count", n_retained), ("retained_mb", "MB", retained_mb),
              ("peak_rss_mb", "MB", peak_rss), ("session_start_s", "s", session_s)]
    for name, unit, value in shown:
        print(f"  {name:<24} {value:>12.4f} {unit}")
    for m in checker.mismatches:
        print(f"MISMATCH {m}")

    if args.trace:
        jobs = layers.parse_event_log(os.path.join(work, "eventlog"))
        fixed = {"session.call_s": session_s, "session.retained_blocks": n_retained,
                 "session.retained_mb": retained_mb, "session.peak_rss_mb": peak_rss}
        fixed.update(per_workload)
        per_layer, table = per_layer_metrics(tracer, jobs, len(lat), fixed)
        landed = sum(r[2] for r in run.records if r[0] == "refresh")
        per_layer["streaming.events.read_amp"] = (
            table["streaming.events"]["input_rows"] * len(lat) / landed if landed else 0.0
        )
        tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
        cols = [m for m, _ in layers.LAYER_METRICS] + ["self_s"]
        print(f"per layer, per timed op ({len(lat)} traced ops, {len(jobs)} jobs in the event log)")
        print(f"  {'layer':<26}" + "".join(f"{c:>11}" for c in cols))
        for layer in layers.LAYERS[1:]:
            print(f"  {layer:<26}" + "".join(f"{table[layer][c]:>11.3f}" for c in cols))
        print(f"  tracing overhead {per_layer['trace.overhead_s']:.4f} s per op")
        metrics = {n: {"value": float(per_layer[n]), "unit": u} for n, u in layers.per_layer_names()}
    else:
        metrics = {n: {"value": float(end_to_end[n]), "unit": u} for n, u in END_TO_END}

    shutil.rmtree(work, ignore_errors=True)
    print(f"wall {time.perf_counter() - T_START:.1f} s")
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
