"""Report-refresh benchmark for etl_cortex_spark.

    python3 perfbench/run.py --workload cortex_report --seed 1 --seconds 20 --trace 0

Run from the repository root. One client in one process runs whole
reports back to back on ``local[nproc]`` (a closed loop, no think time):
a fixed warm-up, then a window of ``--seconds`` of op time. With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` untraced and traced ops take turns in the window, and the
run reports per-layer self times, job counts and the tracing overhead.
Spans go to ``.perfbench_out/`` at the end of a traced run. Output checks
run outside every timed window and outside ``setup_s``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap; the default of 24g does not fit a 15 GiB host
DRIVER_MEM = "3g"
#: switches that make the library serve a different plan than it ships
REFUSED_ENV = ("SPARK_GRAFT_NO_BUCKET", "SPARK_GRAFT_UNROLL")
#: the 1-row noop job whose median latency is the per-job floor
FLOOR_RUNS = 7

#: per-layer metric -> span whose self time it reports (ms per op)
LAYER_SPANS = {
    "excel.read_ms": "excel.read",
    "pipeline.silver_ms": "pipeline.silver",
    "gold.unify_ms": "gold.unify",
    "xlsx.collect_ms": "xlsx.collect",
    "xlsx.render_ms": "xlsx.render",
    "queries.build_ms": "queries.build",
    "engine.execute_ms": "engine.execute",
}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def pin_env(work: str) -> int:
    """Pin the core count, heap and every scratch location before the
    library is imported: ``session.DEFAULT_CPUS`` is read at import."""
    for knob in REFUSED_ENV:
        if os.environ.get(knob):
            sys.exit(f"refusing to run with {knob} set: it changes the measured plan")
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # the JVM's perf-counter file would otherwise land in /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    tempfile.tempdir = None
    return nproc


def calib_ms() -> float:
    """A fixed pure-Python loop: host speed, independent of the program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i
    return (time.perf_counter() - t0) * 1e3


def job_floor_ms(spark) -> float:
    times = []
    for _ in range(FLOOR_RUNS):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def job_counts(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) launched under ``groups``."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                if stage and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks
    return jobs, stages, tasks


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def cpu_ms(pids: tuple[int, ...]) -> float:
    """User + system CPU time of ``pids`` so far, from /proc. Time the
    host steals from the VM is not in it, unlike wall time."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rpartition(")")[2].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks * 1e3 / os.sysconf("SC_CLK_TCK")


def jvm_counters(spark) -> dict[str, float]:
    """Running totals of the driver JVM (it hosts the executors too, in
    local mode): garbage-collection ms, JIT-compiler ms summed over the
    compiler threads, and classes Spark's code generator compiled. A
    generated class the codegen cache misses is compiled, loaded and
    then JIT-compiled afresh."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "gc_ms": float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())),
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "codegen_classes": float(codegen.METRIC_COMPILATION_TIME().getCount()),
    }


class Runner:
    def __init__(self, wl, tracer, spark) -> None:
        self.wl, self.tr, self.spark = wl, tracer, spark
        self.next_op = 0
        self.calib: list[float] = []
        #: op id -> growth of each ``jvm_counters`` total during the op
        self.jvm: dict[int, dict[str, float]] = {}
        #: share of host CPU time stolen during the last window
        self.steal_pct = 0.0
        #: this process and the driver JVM, which runs the executors
        self.pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)
        #: op id -> CPU ms both processes spent during the op
        self.cpu_ms: dict[int, float] = {}

    def run_op(self, traced: bool):
        """One op; returns (op id, seconds, result, error or None)."""
        tr, op = self.tr, self.next_op
        self.next_op += 1
        tr.enabled, tr.op = traced, op
        result = error = None
        jvm0, cpu0 = jvm_counters(self.spark), cpu_ms(self.pids)
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                result = self.wl.op(tr)
        except Exception as e:
            traceback.print_exc()
            error = f"op raised {e!r}"
        finally:
            dt = time.perf_counter() - t0
            tr.enabled = False
            if traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.cpu_ms[op] = cpu_ms(self.pids) - cpu0
            jvm1 = jvm_counters(self.spark)
            self.jvm[op] = {k: jvm1[k] - v for k, v in jvm0.items()}
        return op, dt, result, error

    def window(self, seconds: float, alternate: bool) -> dict[bool, dict]:
        """Closed loop until ``seconds`` of op time; checks run between
        ops, outside the op timer. With ``alternate`` the ops take turns
        untraced and traced, so host drift hits both alike, and each kind
        gets half of ``seconds``. Returns untraced (False) and traced
        (True) op records."""
        kinds = (False, True) if alternate else (False,)
        rec = {k: {"busy": 0.0, "lat": [], "ops": [], "failed": 0} for k in kinds}
        steal0, total0 = cpu_ticks()
        n = 0
        while min(rec[k]["busy"] for k in kinds) < seconds / len(kinds):
            traced = kinds[n % len(kinds)]
            n += 1
            op, dt, result, error = self.run_op(traced)
            r = rec[traced]
            r["busy"] += dt
            self.calib.append(calib_ms())
            t_check = time.perf_counter()
            errors = [error] if error else self.wl.check_op(result)
            print(
                f"op {op}: {dt * 1e3:.1f} ms{' traced' if traced else ''}"
                f" cpu {self.cpu_ms[op]:.0f} ms gc {self.jvm[op]['gc_ms']:.0f} ms"
                f" jit {self.jvm[op]['jit_ms']:.0f} ms"
                f" calib {self.calib[-1]:.1f} ms"
                f" check {(time.perf_counter() - t_check) * 1e3:.0f} ms",
                file=sys.stderr,
            )
            for e in errors:
                print(f"op {op}: check failed: {e}", file=sys.stderr)
            if errors:
                r["failed"] += 1
            else:
                r["lat"].append(dt)
                r["ops"].append(op)
        steal1, total1 = cpu_ticks()
        self.steal_pct = 100 * (steal1 - steal0) / max(total1 - total0, 1)
        print(f"window: {self.steal_pct:.1f}% of CPU time stolen by the host", file=sys.stderr)
        for r in rec.values():
            r["attempted"] = len(r["lat"]) + r["failed"]
        return rec


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def per_layer_metrics(wl, tr, runner, spark, plain: dict, traced: dict, setup: dict) -> dict:
    from workloads import WAREHOUSE_QUERIES

    sc = spark.sparkContext
    selfs, ops = tr.self_times(), traced["ops"]

    def per_op(fn) -> float:
        return statistics.median([fn(op) for op in ops]) if ops else 0.0

    out = {
        name: metric(per_op(lambda op, s=span: selfs[op].get(s, 0.0) * 1e3), "ms")
        for name, span in LAYER_SPANS.items()
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = metric(
            per_op(lambda op, p=phase: getattr(wl, "phases", {}).get(op, {}).get(p, 0.0)), "ms"
        )
    out["queries.builder_jobs_per_op"] = metric(
        per_op(lambda op: job_counts(sc, tr.groups[(op, "build")])[0]), "count"
    )
    for i, name in enumerate(("jobs", "stages", "tasks")):
        out[f"engine.{name}_per_op"] = metric(
            per_op(lambda op, i=i: job_counts(sc, tr.groups[(op, "exec")])[i]), "count"
        )
    out["engine.job_floor_ms"] = metric(setup["floor_ms"], "ms")
    out["jvm.gc_ms"] = metric(per_op(lambda op: runner.jvm[op]["gc_ms"]), "ms")
    out["jvm.jit_ms"] = metric(per_op(lambda op: runner.jvm[op]["jit_ms"]), "ms")
    out["engine.codegen_classes_per_op"] = metric(
        per_op(lambda op: runner.jvm[op]["codegen_classes"]), "count"
    )
    out["op.cpu_ms"] = metric(per_op(lambda op: runner.cpu_ms[op]), "ms")
    query_ms = getattr(wl, "query_ms", {})
    for q in WAREHOUSE_QUERIES:
        times = [query_ms[q][op] for op in plain["ops"]] if q in query_ms else []
        out[f"query.{q}.latency_ms"] = metric(statistics.median(times) if times else 0.0, "ms")
    for part in ("session", "inputs", "warmup"):
        out[f"setup.{part}_s"] = metric(setup[part], "s")
    out["host.calib_ms"] = metric(statistics.median(runner.calib), "ms")
    out["host.steal_pct"] = metric(runner.steal_pct, "%")
    out["host.peak_rss_mb"] = metric(peak_rss_mb(spark), "MB")
    p50_plain = statistics.median(plain["lat"])
    p50_traced = statistics.median(traced["lat"])
    out["trace.overhead_ms"] = metric((p50_traced - p50_plain) * 1e3, "ms")
    out["trace.overhead_pct"] = metric((p50_traced / p50_plain - 1) * 100, "%")
    coverage = tr.coverage()
    out["trace.coverage_min_pct"] = metric(min(coverage[op] for op in ops) * 100, "%")
    out["op.latency_p90_ms"] = metric(
        statistics.quantiles(plain["lat"] + traced["lat"], n=10)[-1] * 1e3, "ms"
    )
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    args = parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        nproc = pin_env(work)
        sys.path.insert(0, ROOT)
        from etl_cortex_spark.session import get_spark
        from spans import Tracer
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        spark = get_spark(
            app_name=f"perfbench_{args.workload}",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
        )
        t_session = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        t_inputs = time.perf_counter()
        tr = Tracer()
        runner = Runner(wl, tr, spark)
        for i in range(wl.warmup_ops):
            op, _dt, _result, error = runner.run_op(traced=False)
            if error:
                raise RuntimeError(f"warm-up op {op} failed: {error}")
            if i == 0:
                # here rather than after the warm-up: code these run for
                # the first time makes the JIT recompile, and the next
                # warm-up op, not the first timed one, absorbs that
                wl.after_first_op()
                floor = job_floor_ms(spark)
        t_first = time.perf_counter()
        setup = {
            "session": t_session - T_START,
            "inputs": t_inputs - t_session,
            "warmup": t_first - t_inputs,
            "floor_ms": floor,
        }

        rec = runner.window(args.seconds, alternate=bool(args.trace))
        plain, traced = rec[False], rec.get(True)
        attempted, failed = plain["attempted"], plain["failed"]
        t_check = time.perf_counter()
        run_errors = wl.check_run()
        print(f"run checked in {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
        if run_errors is not None:  # the run-level check counts as one op
            for e in run_errors:
                print(f"run check failed: {e}", file=sys.stderr)
            attempted += 1
            failed += bool(run_errors)
        if traced:
            attempted += traced["attempted"]
            failed += traced["failed"]
            metrics = per_layer_metrics(wl, tr, runner, spark, plain, traced, setup)
        else:
            metrics = {
                "setup_s": metric(t_first - T_START, "s"),
                "latency_p50_ms": metric(statistics.median(plain["lat"]) * 1e3, "ms"),
                "throughput_ops_s": metric(len(plain["lat"]) / plain["busy"], "1/s"),
            }
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "driver_heap": spark.conf.get("spark.driver.memory"),
            "spark_version": spark.version,
            "warmup_ops": wl.warmup_ops,
            "layouts_built": getattr(wl, "layouts", []),
        }
        if traced:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tr.dump(
                os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"),
                env,
                T_START,
            )
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once no run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
