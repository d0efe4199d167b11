"""Benchmark runner for powershap_spark.

    python3 perfbench/run.py --workload pit_select --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 1

Run from the repository root. One run of one workload:

1. starts a local Spark session (``local[nproc]``, one driver process);
2. generates the workload's inputs from ``--seed`` into ``.bench_work/``
   (untimed; ``synth`` runs only here);
3. set-up, three times: (re)start the session, read every input table and
   count it. ``setup_s`` is the median;
4. traced runs only: one untimed warm-up job;
5. a closed loop, one client, one job at a time, for ``--seconds``: each
   job runs from the input tables to a complete result, and is then
   checked (the check is not timed). In an untraced run the first job is
   the session's first; ``run_seconds`` in BENCHMARK.json is shorter than
   either workload's job, so a run measures exactly that one. Every job
   must reproduce the first one's output;
6. a final check of the last job's output where the workload has one.

With ``--trace 1`` the loop alternates an untraced and a traced job (both
warm) and also runs the workload's standalone layer probes; it reports
the per-layer metrics instead. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give each metric with its unit, the error rate and the host record.
Spans, layer tables and the host record are written to
``.bench_work/results/`` when the run ends.

The metric names, units and workloads are read from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def configure_env() -> None:
    """Pin BLAS threads, size the driver from host RAM and keep every
    scratch file inside the work directory. Must run before NumPy or
    PySpark is imported; Spark's Python workers inherit it."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_DRIVER_MEM"] = f"{min(4096, host_ram_mb() // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)


def blas_core() -> str:
    """The OpenBLAS kernel NumPy dispatched to on this CPU."""
    import ctypes

    with open("/proc/self/maps") as f:
        libs = {ln.split()[-1] for ln in f if "openblas" in ln.lower()}
    for path in sorted(libs):
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for sym in ("openblas_get_corename", "scipy_openblas_get_corename64_",
                    "openblas_get_corename64_"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return "unknown"


def host_record() -> dict:
    import platform

    import numpy
    import pyarrow
    import pyspark

    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for ln in f:
            if ln.startswith("model name"):
                model = ln.split(":", 1)[1].strip()
                break
    return {
        "nproc": host_cpus(),
        "ram_mb": host_ram_mb(),
        "cpu_model": model,
        "blas_core": blas_core(),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": f"local[{host_cpus()}]",
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "blas_threads": os.environ["OPENBLAS_NUM_THREADS"],
    }


def start_session():
    from powershap_spark.session import get_spark

    n = host_cpus()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def stop_jvm() -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # still shut the JVM down below
            print(f"stopping the SparkContext failed: {e}", file=sys.stderr)
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """One run of one workload: owns the session, the inputs and every
    job's timing and check outcome."""

    def __init__(self, workload, seed: int, seconds: float, traced: bool):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.input_dir = os.path.join(WORK, "inputs", f"{workload.name}-{seed}-{os.getpid()}")
        self.times: list[float] = []  # untraced job seconds
        self.rates: list[float] = []  # items per second, per untraced job
        self.traced_times: list[float] = []
        self.layer_rows: list[tuple[dict, int]] = []  # (layer table, items)
        self.span_dump: list[list[dict]] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.ref = None
        self.info: dict = {}

    def job(self, spark, tables, tracer=None):
        """Run, time and check one job. Returns ``(result, (seconds, checked
        output, failed))``, or ``(None, None)`` when the job raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                res = self.wl.run(spark, tables)
            else:
                res = self.wl.run_traced(tracer, spark, tables)
        except Exception as e:  # a failed job is counted, the loop goes on
            self.failed += 1
            self.problems.append(f"job raised {type(e).__name__}: {e}")
            return None, None
        dt = time.perf_counter() - t0
        try:
            out, problems = self.wl.check(res, self.ref)
        except Exception as e:
            out, problems = None, [f"check raised {type(e).__name__}: {e}"]
        finally:
            if tracer is None:
                self.wl.release(res)
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        elif self.ref is None:
            self.ref = out
        return res, (dt, out, bool(problems))

    def execute(self) -> dict:
        try:
            return self._execute()
        finally:
            stop_jvm()
            shutil.rmtree(self.input_dir, ignore_errors=True)

    def _execute(self) -> dict:
        t_start = time.perf_counter()
        spark = start_session()
        self.info["session_start_s"] = time.perf_counter() - t_start
        os.makedirs(self.input_dir, exist_ok=True)
        t0 = time.perf_counter()
        inputs = self.wl.generate(spark, self.seed, self.input_dir)
        self.info["generate_s"] = time.perf_counter() - t0

        setups = []
        for _ in range(SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            tables = self.wl.load(spark, inputs)
            setups.append(time.perf_counter() - t0)
        self.info["setup_reps_s"] = setups

        # Both workloads are batch jobs a user runs once per session, so an
        # untraced run measures the session's first job (JIT and plan
        # compilation included). A traced run compares traced with untraced
        # jobs, so it first runs one warm-up job and then times warm jobs.
        t0 = time.perf_counter()
        for _ in range(1 if self.traced else 0):
            res, rec = self.job(spark, tables)
            if rec is None or rec[2]:
                raise RuntimeError(f"warm-up job failed: {self.problems}")
        self.info["warmup_s"] = time.perf_counter() - t0
        self.attempted = self.failed = 0

        deadline = time.perf_counter() + self.seconds
        last = None
        while True:
            res, rec = self.job(spark, tables)
            if rec is not None:
                last = res
                if not rec[2]:
                    self.times.append(rec[0])
                    self.rates.append(self.wl.items(tables, res) / rec[0])
            if self.traced:
                self.traced_iteration(spark, tables)
            if time.perf_counter() >= deadline:
                break
        if last is None:
            raise RuntimeError(f"no job completed: {self.problems}")
        final = self.wl.final_check(last)
        if final:  # the last job's output was wrong after all
            self.problems.extend(final)
            self.failed = min(self.attempted, self.failed + 1)
        self.info["items"] = self.wl.items(tables, last)
        return {
            "setup_s": median(setups),
            "job_s": median(self.times),
            "items_per_s": median(self.rates),
        }

    def traced_iteration(self, spark, tables):
        from spans import Tracer, layer_sum_errors

        tracer = Tracer(spark.sparkContext)
        res, rec = self.job(spark, tables, tracer)
        if rec is None:
            return
        try:
            if not rec[2]:
                self.traced_times.append(rec[0])
            self.wl.probes(tracer, spark, tables, res)
            table = tracer.resolve()
        finally:
            self.wl.release(res)
        self.problems.extend(layer_sum_errors(tracer.spans))
        self.layer_rows.append((table, self.wl.items(tables, res)))
        self.span_dump.append([vars(s) for s in tracer.spans])


def layer_metric(table: dict, name: str, items: int) -> float:
    """One per-layer metric ``<layer>.<metric>`` from a layer table; a
    layer the job did not run reads 0. ``items`` is the job's input size."""
    layer, metric = name.rsplit(".", 1)
    row = table.get(layer)
    if metric == "cpu_us_per_turn":
        return row["tree_cpu_s"] * 1e6 / items if row else 0.0
    if metric == "ms_per_iteration":
        return row["wall_s"] * 1e3 / row["calls"] if row else 0.0
    if metric == "batches":
        return row["calls"] if row else 0.0
    return float(row.get(metric, 0.0)) if row else 0.0


def per_layer_metrics(run: Run, spec: list[dict]) -> dict:
    out = {}
    for m in spec:
        name = m["name"]
        if name == "trace.overhead_s":
            v = median(run.traced_times) - median(run.times)
        elif name == "synth.wall_s":
            v = run.info["generate_s"] if run.wl.uses_synth else 0.0
        else:
            v = median([layer_metric(t, name, n) for t, n in run.layer_rows])
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def run_one(args, spec) -> int:
    configure_env()
    try:
        import powershap_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"powershap_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](n_parts=host_cpus())
    run = Run(wl, args.seed, float(args.seconds), bool(args.trace))
    host = host_record()
    e2e = run.execute()
    if not run.times:
        print(f"no job completed: {run.problems}", file=sys.stderr)
        return 1
    if args.trace:
        metrics = per_layer_metrics(run, spec["per_layer"])
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    for name, m in metrics.items():
        if not math.isfinite(m["value"]):  # e.g. every traced job failed
            run.problems.append(f"{name} was not measured")
            m["value"] = 0.0
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "info": run.info,
        "job_s": run.times,
        "traced_job_s": run.traced_times,
        "problems": run.problems,
        "metrics": metrics,
        "layers": run.layer_rows,
        "spans": run.span_dump,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_path = os.path.join(
        WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"host {json.dumps(host)}")
    print(f"workload {wl.name} seed {args.seed}: {len(run.times)} untraced jobs, "
          f"warm-up {run.info['warmup_s']:.3f} s, inputs generated in "
          f"{run.info['generate_s']:.3f} s")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {run.failed / max(1, run.attempted):.6g} "
          f"({run.failed} of {run.attempted} jobs)")
    for p in run.problems[:20]:
        print(f"problem: {p}")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args, spec) -> int:
    """Every workload in its own process, then one table of all metrics."""
    rows, rc = {}, 0
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w['name']}: failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            rc = 1
            continue
        rows[w["name"]] = json.loads(lines[-1])
    for name, r in rows.items():
        err = r["failed"] / r["attempted"]
        print(f"[{name}] correct={r['correct']} error_rate={err:.6g} "
              f"({r['failed']} of {r['attempted']} jobs)")
        for m, v in r["metrics"].items():
            print(f"  {m} {v['value']:.6g} {v['unit']}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        print(f"missing {spec_path}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload == "all":
        return run_all(args, spec)
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
