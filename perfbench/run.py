"""Benchmark entry point.

    python3 perfbench/run.py --workload bronze_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, starts the engine, sets the workload
up, runs its closed-loop operation mix for ``--seconds`` seconds, checks
every result, and prints one JSON object as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (spans are also written to ``.perfbench_out/``). Machine and
run facts go to an ``info`` line before it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

import numpy as np

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def load_bench() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def machine() -> dict:
    mem_kb = int(open("/proc/meminfo").read().split("MemTotal:")[1].split()[0])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def configure_env(work: str, m: dict) -> None:
    """Size the engine to this machine and keep every file it writes inside
    the run's own directory."""
    for d in ("spark-local", "tmp", "ivf_cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(m["nproc"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(m['ram_gb'] // 4)))}g"
    os.environ["SPARK_GRAFT_IVF_CACHE"] = os.path.join(work, "ivf_cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


class RssSampler(threading.Thread):
    """Peak resident set of the engine JVM plus every process under it
    (the Python workers), sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self.stop_ev = pid, 0, threading.Event()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    ppid = int(open(f"/proc/{d}/stat").read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo += children.get(p, [])
            try:
                for line in open(f"/proc/{p}/status"):
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self.stop_ev.wait(0.1):
            self.peak = max(self.peak, self.sample())


def measure(wl, tracer, seconds: float) -> tuple[list, float]:
    """Closed loop with one client: the next operation starts when the
    previous one ends. It runs whole rounds of the workload's mix (at least
    one) until ``seconds`` of measured time have passed, so every run
    measures the same mix. Untimed per-operation preparation (writing the
    next CSV batch) is excluded."""
    from perfbench.workloads import Op

    ops: list = []
    prep = 0.0
    t0 = time.perf_counter()
    while not (ops and len(ops) % len(wl.kinds) == 0 and time.perf_counter() - t0 - prep >= seconds):
        op = Op(wl.kind_of(len(ops)), len(ops))
        tp = time.perf_counter()
        wl.prepare(op)
        prep += time.perf_counter() - tp
        with tracer.span(f"op.{op.kind}", op_id=op.index):
            op.start = time.perf_counter()
            try:
                wl.run(op)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                op.ok, op.error = False, f"{type(exc).__name__}: {str(exc)[:300]}"
            op.end = time.perf_counter()
        wl.after(op)
        ops.append(op)
    return ops, time.perf_counter() - t0 - prep


def result_line(metrics: dict, wanted: list, attempted: int, failed: int) -> dict:
    """The last stdout line: every wanted metric by name with its unit
    (a layer the workload never calls reads 0)."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {w["name"]: {"value": float(metrics.get(w["name"], 0.0)), "unit": w["unit"]}
                    for w in wanted},
    }


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta(p(n+1), (1-p)(n+1))
    weighted mean of every order statistic. Over one round of a mix of
    operation kinds, a single order statistic jumps from one kind to the
    next between runs; this estimate moves smoothly."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 100_001)[1:-1]
    density = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate(([0.0], np.cumsum(density) / density.sum(), [1.0]))
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.concatenate(([0.0], t, [1.0])), cdf))
    return float(weights @ xs)


def load_avg() -> float:
    return float(open("/proc/loadavg").read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: on a shared host,
    steal is time the machine's CPUs wanted to run but the host ran others."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7], sum(f)


def versions(spark) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {"spark": spark.version, "python": platform.python_version(),
            "java": f"{system.getProperty('java.vendor')} {system.getProperty('java.version')}"}


def stop_engine(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it) to
    exit: the JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            gw.proc.kill()
            gw.proc.wait()


def main(argv: list[str]) -> int:
    bench = load_bench()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be in the checkout; without it, fail
    # before printing any result
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import data_ingestion_bra_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program not found under {root}: {exc}", file=sys.stderr)
        return 2

    from perfbench.layers import per_layer
    from perfbench.tracing import Tracer, install_patches, job_ids
    from perfbench.workloads import WORKLOADS

    m = machine()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, m)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **m,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"], "load_1m_before": load_avg()}
    ticks0 = cpu_ticks()
    spark = None
    try:
        tables_dir = os.path.join(work, "tables")
        t = time.perf_counter()
        counts = WORKLOADS[args.workload].generate(tables_dir, args.seed)
        info["generate_s"] = round(time.perf_counter() - t, 3)

        from data_ingestion_bra_spark.session import get_spark, tune_session

        t = time.perf_counter()
        spark = tune_session(get_spark(f"perfbench-{args.workload}"))
        spark.range(1).count()  # the first job pays JVM class loading
        session_start_s = time.perf_counter() - t
        info.update(versions(spark))
        rss = RssSampler(spark.sparkContext._gateway.proc.pid)
        rss.start()

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            install_patches(tracer)
        ctx = SimpleNamespace(spark=spark, tracer=tracer, seed=args.seed, work=work,
                              tables_dir=tables_dir, counts=counts)
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        with tracer.span("setup", op_id=-1):
            wl.setup()
        setup_only_s = time.perf_counter() - t
        info.update(session_start_s=round(session_start_s, 3), setup_only_s=round(setup_only_s, 3))

        jobs_before = job_ids(spark)
        ops, elapsed = measure(wl, tracer, args.seconds)
        rss.stop_ev.set()
        rss.join()
        rows = wl.rows_consumed(ops, sorted(job_ids(spark) - jobs_before))
        t = time.perf_counter()
        wl.check(ops)
        info["check_s"] = round(time.perf_counter() - t, 3)

        attempted = len(ops)
        failed = sum(not o.ok for o in ops)
        if args.trace:
            spans_path = os.path.join(root, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.json")
            metrics = per_layer(wl, tracer, ops, elapsed, session_start_s, spans_path)
            wanted = bench["per_layer"]
        else:
            durs = [o.dur for o in ops]
            metrics = {
                "setup_s": session_start_s + setup_only_s,
                "ops_per_min": 60 * attempted / elapsed,
                "op_p50_s": quantile(durs, 0.5),
                "op_p90_s": quantile(durs, 0.9),
                "ok_op_share": 1 - failed / attempted,
                "peak_rss_mb": max(rss.peak, rss.sample()) / 1e6,
                "rows_per_s": rows / elapsed,
                "storage_bytes_per_input_byte": wl.storage_bytes() / wl.input_bytes(),
            }
            wanted = bench["end_to_end"]
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        info.update(ops=attempted, elapsed_s=round(elapsed, 3), load_1m_after=load_avg(),
                    cpu_steal_share=round(steal / max(total, 1), 4),
                    op_s={k: [round(o.dur, 3) for o in ops if o.kind == k] for k in sorted({o.kind for o in ops})},
                    errors=sorted({f"{o.kind}: {o.error}" for o in ops if not o.ok})[:10])
        print(json.dumps({"info": info}), flush=True)
        print(json.dumps(result_line(metrics, wanted, attempted, failed)), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
