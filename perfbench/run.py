"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload analyst_sweep --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its input tables from
``--seed`` (cached under ``.perfbench_cache/``), starts one Spark session on
``local[N]`` (N = usable cores, at most 4), runs one cold pass and one warm
pass, then times ``floor(--seconds / nominal pass length)`` warm passes (at
least one) and checks the outputs of the last one. The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` traced and untraced passes alternate and the metrics are the
per-layer ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS, Context, ensure_data, import_tools, table_rows  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_env(trace: bool) -> None:
    """Keep Spark, the JVM and the Python workers inside the checkout and
    on the loopback interface; put the library on the workers' path."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # keep every job, stage and SQL execution of a run for attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.update({
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # the launcher JVM spark-submit starts first takes its options here
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # the status REST API the traced run reads is served by the UI
        "SPARK_GRAFT_UI": "true" if trace else "false",
    })


def shutdown(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers are gone."""
    from probes import jvm_pid

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pid = jvm_pid(spark)
    daemons = [
        int(c) for c in os.listdir("/proc") if c.isdigit() and _ppid(int(c)) == pid
    ]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for d in daemons:
        while os.path.exists(f"/proc/{d}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{d}"):
            os.kill(d, 9)


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return -1


class Runner:
    def __init__(self, workload, tracer, ctx):
        self.wl, self.tracer, self.ctx = workload, tracer, ctx
        self.attempted = 0
        self.failed = 0

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        """One pass over the workload's operations; returns its wall time,
        per-operation walls and the operations' outputs."""
        self.tracer.active = traced
        walls, outputs = {}, {}
        t_pass = time.perf_counter()
        for name in self.wl.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.op(name, pass_no):
                    outputs[name] = self.wl.run(self.ctx, name)
            except Exception:  # a failed call is counted and the pass goes on
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                outputs[name] = None
            walls[name] = time.perf_counter() - t0
        self.tracer.active = False
        return {"pass": pass_no, "traced": traced, "wall_s": time.perf_counter() - t_pass,
                "op_s": walls, "outputs": outputs}


def pass_layers(wl, ops: dict, p: dict, work_dir: str) -> dict:
    """Per-layer metrics of one traced pass, summed over its operations."""
    def total(key, phases=None):
        if phases is None:
            return sum(r[key] for r in ops.values())
        return sum(r[key].get(ph, 0) for r in ops.values() for ph in phases)

    m = {
        "build.s": total("phase_s", ("read", "build")),
        "build.jobs": total("jobs", ("read", "build")),
        "build.job_s": total("job_s", ("read", "build")),
        "plan.s": total("phase_s", ("plan",)),
        "exec.s": total("action_job_s"),
        "exec.jobs": total("jobs", ("collect", "write")),
    }
    for key in ("stages", "tasks", "task_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb", "input_mb"):
        m[f"exec.{key}"] = total(key)
    for key in ("python.run_s", "python.start_s", "python.init_s",
                "python.sent_mb", "python.returned_mb", "python.rows"):
        m[key] = sum(r["python"].get(key, 0.0) for r in ops.values())
    m["collect.s"] = sum(
        max(0.0, r["phase_s"]["collect"] - r["action_job_s"])
        for r in ops.values() if "collect" in r["phase_s"]
    )
    frames = [o for o in p["outputs"].values() if o is not None and hasattr(o, "memory_usage")]
    m["collect.rows"] = sum(len(o) for o in frames)
    m["collect.mb"] = sum(int(o.memory_usage(deep=True).sum()) for o in frames) / 1e6
    m["write.s"] = total("phase_s", ("write",))
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(work_dir) for f in fs
        if f.startswith("part-")
    ]
    m["write.files"] = len(files)
    m["write.mb"] = sum(os.path.getsize(f) for f in files) / 1e6
    dedup = ops.get(wl.dedup_op, {"jobs": {}, "job_s": {}})
    m["dedup.build_jobs"] = sum(dedup["jobs"].get(ph, 0) for ph in ("read", "build"))
    m["dedup.build_job_s"] = sum(dedup["job_s"].get(ph, 0.0) for ph in ("read", "build"))
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "ffn_polars_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tools", "gen_testdata.py"))
    ):
        print(f"perfbench: no ffn_polars_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    import_tools()
    import gen_testdata  # noqa: F401 - numpy/pyarrow load before setup, cached data or not

    wl_cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data_dir = ensure_data(CACHE, args.seed, wl_cls.sf)
    gen_s = time.perf_counter() - t0

    trace = bool(args.trace)
    spark_env(trace)
    from probes import (StealMeter, canary, jvm_gc_s, jvm_pid, proc_cpu_s,
                        proc_rss_peak_mb, python_workers, self_rss_peak_mb)
    from tracing import SparkRest, Tracer, attribute

    from ffn_polars_spark.sources import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    work_dir = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        wl = wl_cls()
        tracer = Tracer(spark, wl.name)
        runner = Runner(wl, tracer, Context(spark, tracer, data_dir, work_dir))
        session_s = time.perf_counter() - T_PROCESS - gen_s

        cold = runner.run_pass(0, traced=False)
        setup_s = session_s + cold["wall_s"]
        # one untimed warm pass; the JIT trend keeps falling for more passes
        # than a run can afford, so the fixed pass count below makes every
        # run stop at the same point of it instead (see README.md)
        warm = [cold["wall_s"], runner.run_pass(1, traced=False)["wall_s"]]

        pid = jvm_pid(spark)
        rest = SparkRest(spark.sparkContext) if trace else None
        if rest:
            rest.new_records()  # everything before the timed window
        steal = StealMeter()
        steal.start()
        n_timed = max(1, int(args.seconds // wl.pass_s))
        if trace:
            # untraced, traced, untraced, ...: the untraced passes bracket
            # the traced ones, so the warm-up trend cancels in the overhead
            n_timed = max(3, n_timed + 1 - n_timed % 2)
        timed, canaries, layers = [], [], []
        for i in range(n_timed):
            canaries.append(canary(spark, data_dir))
            traced = trace and i % 2 == 1
            cpu0, gc0 = proc_cpu_s(pid), jvm_gc_s(spark)
            p = runner.run_pass(len(warm) + i, traced)
            cpu, gc = proc_cpu_s(pid) - cpu0, jvm_gc_s(spark) - gc0
            if traced:
                ids = {s["trace"] for s in tracer.spans if s["trace"].startswith(f"{wl.name}/{p['pass']}/")}
                ops = attribute(wl.name, *rest.new_records(), tracer.spans, ids)
                m = pass_layers(wl, ops, p, work_dir)
                m.update({"jvm.cpu_s": cpu, "jvm.gc_s": gc,
                          "jvm.busy_frac": cpu / (p["wall_s"] * CORES)})
                layers.append(m)
                p["ops"] = ops
            timed.append(p)
        steal_frac = steal.share()

        # output checks, once, on the last pass (outside every timed region)
        t_check = time.perf_counter()
        bad = wl.check(runner.ctx, timed[-1]["outputs"])
        runner.failed += len(bad)
        check_s = time.perf_counter() - t_check

        plain = [p for p in timed if not p["traced"]]
        op_median = {op: statistics.median(p["op_s"][op] for p in plain) for op in wl.ops}
        pass_s = statistics.median(p["wall_s"] for p in plain)
        info = {
            "workload": wl.name, "seed": args.seed, "sf": wl.sf, "cores": CORES,
            "tables": table_rows(data_dir), "gen_s": gen_s, "session_s": session_s,
            "warm_passes_s": warm, "timed_passes": len(timed),
            "box.canary_s": statistics.median(canaries), "box.steal_frac": steal_frac,
            "failed_checks": bad, "check_s": check_s,
            # per-operation latency over the workload's operation mix;
            # reported, not gated (see README.md, "Steadiness")
            "query_p50_s": statistics.median(op_median.values()),
            "query_p90_s": statistics.quantiles(op_median.values(), n=10, method="inclusive")[-1],
            "op_median_s": op_median,
            "op_s": [p["op_s"] for p in plain],
            "passes_s": [p["wall_s"] for p in plain],
        }
        print(json.dumps(info))

        if trace:
            traced_walls = [p["wall_s"] for p in timed if p["traced"]]
            metrics = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
            metrics.update({
                "jvm.rss_peak_mb": proc_rss_peak_mb(pid),
                "driver.rss_peak_mb": self_rss_peak_mb(),
                "python.workers": python_workers(pid),
                "box.canary_s": info["box.canary_s"],
                "box.steal_frac": steal_frac,
                "trace.overhead_s": statistics.median(traced_walls) - pass_s,
            })
            per_op = {
                op: {"wall_s": r["wall_s"], "phase_s": r["phase_s"], "jobs": r["jobs"],
                     "job_s": r["job_s"], "task_s": r["task_s"]}
                for op, r in timed[-1 if timed[-1]["traced"] else -2]["ops"].items()
            }
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            trace_path = os.path.join(CACHE, "traces", f"{wl.name}-seed{args.seed}.json")
            tracer.dump(trace_path, [{"pass": p["pass"], "ops": p["ops"]} for p in timed if p["traced"]])
            print(json.dumps({"trace_file": os.path.relpath(trace_path, ROOT), "ops": per_op}))
        else:
            metrics = {"setup_s": setup_s, "pass_s": pass_s}
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
    finally:
        shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
