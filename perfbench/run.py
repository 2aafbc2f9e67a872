"""Benchmark of the package: one seeded workload in one driver process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command generates the workload's
inputs from the seed (cached per seed under perfbench/.cache), starts
the engine's session on local[nproc], runs one cold pass and then warm
passes for ``--seconds``, checks every row's output off the timed path,
and prints one JSON object as its last line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
traced passes interleaved with untraced ones. Loop: closed, one client.
README.md next to this file gives the rationale.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "udacity_capstone_data_engineering_spark"
CACHE = os.path.join(HERE, ".cache")
DRIVER_MEMORY = "2g"
# pass_s, cold_pass_s, query_p50_s, query_p90_s and peak_rss_mb are measured
# too, but varied by more than a tenth run to run (README.md), so they are
# reported per layer.
END_TO_END = ("pass_cpu_s", "cold_pass_cpu_s", "setup_s")


def process_age() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (the JVM and its Python workers), reaped ones included."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(pid)] = int(st[1])
        cpu[int(pid)] = sum(int(x) for x in st[11:15]) / tick
    tree, todo = 0.0, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        tree += cpu.get(pid, 0.0)
        todo += children.get(pid, [])
    return tree


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """Process start to a ready session with the catalog imported."""
    from udacity_capstone_data_engineering_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores()}]", shuffle_partitions=cores(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # the JVM's own scratch files stay in the run's directory too
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    from udacity_capstone_data_engineering_spark import queries as catalog

    return spark, catalog, start_s, process_age()


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generated inputs for (workload, seed), made once and then reused."""
    data = os.path.join(CACHE, f"{workload}-seed{seed}")
    manifest = os.path.join(data, "manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{data}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        # A child process, so generation never counts in the driver's RSS.
        out = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload,
                              str(seed), tmp], check=True, capture_output=True, text=True)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            f.write(out.stdout)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(manifest) as f:
        return data, json.load(f)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Runner:
    """Runs passes of one workload and keeps per-row walls and digests."""

    def __init__(self, spark, catalog, workload: str, data: str, run_dir: str):
        from workloads import CATALOG

        self.spark, self.data = spark, data
        self.queries = catalog.queries()
        self.rows = CATALOG.get(workload)
        self.out = os.path.join(run_dir, "star_out")
        self.digests: dict[str, list[str]] = {}
        self.kept: dict[str, list] = {}  # first collected rows of RECALL_ROWS
        self.failed: dict[str, str] = {}
        self.tracer = None
        self.row_walls: dict[tuple[int, str], tuple[float, float]] = {}

    def _span(self, name: str, func: str):
        return self.tracer.span(name, func) if self.tracer else nullcontext()

    def _fail(self, row: str, why: str) -> None:
        self.failed.setdefault(row, why)
        print(f"row {row} failed: {why}", file=sys.stderr)

    def one_pass(self, pass_id: int, cold: bool = False,
                 digest: frozenset = frozenset()) -> tuple[float, list[float], float]:
        """One pass; returns (wall, per-row walls, CPU seconds). In the cold
        pass every catalog row is executed by collecting its rows, which
        gives its digest; rows in ``digest`` are collected again after their
        timed noop write. Digest work is left out of the pass wall and CPU."""
        walls = []
        t_pass, c_pass = time.perf_counter(), tree_cpu_s()
        off_clock = off_cpu = 0.0
        for name, thunk in self._thunks(cold):
            if self.tracer:
                self.tracer.begin_row(pass_id, name)
            w0 = time.time()
            try:
                wall, df, rows = thunk()
            except Exception as exc:  # a failing row is counted, the run goes on  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                self._fail(name, f"{type(exc).__name__}: {exc}"[:300])
                continue
            self.row_walls[(pass_id, name)] = (w0, time.time())
            walls.append(wall)
            print(f"pass {pass_id} {name} {wall:.3f}", file=sys.stderr)
            if self.tracer:
                self.tracer.harvest()
            if rows is not None or name in digest:
                t0, c0 = time.perf_counter(), tree_cpu_s()
                self._digest(name, df, rows)
                off_clock += time.perf_counter() - t0
                off_cpu += tree_cpu_s() - c0
        wall, cpu = time.perf_counter() - t_pass - off_clock, tree_cpu_s() - c_pass - off_cpu
        print(f"pass {pass_id} wall {wall:.3f} cpu {cpu:.2f}", file=sys.stderr)
        return wall, walls, cpu

    def _thunks(self, cold: bool):
        if self.rows is None:
            from workloads import star_rows

            for name, fn in star_rows(self.spark, self.data, self.out):
                yield name, lambda fn=fn, name=name: self._star_row(name, fn)
            return
        for name in self.rows:
            yield name, lambda name=name: self._catalog_row(name, cold)

    def _star_row(self, name: str, fn):
        t0 = time.perf_counter()
        with self._span("star.row", name):
            failed_checks = fn()
        wall = time.perf_counter() - t0
        if failed_checks:
            self._fail(name, "; ".join(failed_checks))
        return wall, None, None

    def _catalog_row(self, name: str, collect: bool):
        t0 = time.perf_counter()
        with self._span("catalog.build", name):
            df = self.queries[name](self.spark, self.data)
        with self._span("catalog.exec", name):
            if collect:
                rows = df.collect()
            else:
                rows = None
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, df, rows

    def _digest(self, name: str, df, rows) -> None:
        from check_oracles import stable_sig
        from workloads import RECALL_ROWS

        if rows is None:
            try:
                rows = df.collect()
            except Exception as exc:  # noqa: BLE001
                self._fail(name, f"collect: {type(exc).__name__}: {exc}"[:300])
                return
        self.digests.setdefault(name, []).append(
            stable_sig(df.columns, [tuple(r) for r in rows]))
        if name in RECALL_ROWS:
            self.kept.setdefault(name, rows)


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8] \
        if len(values) > 1 else values[0]


def prepare(run_dir: str) -> None:
    """Keep everything the engine writes (shuffle files, artifacts, the zip
    it ships to workers) inside the checkout, and let workers import the
    package from the root."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", DRIVER_MEMORY),
    })


def measure(spark, catalog, workload: str, data: str, manifest: dict, run_dir: str,
            seconds: float, trace: bool) -> dict:
    """Cold pass, warm passes for ``seconds`` (every other one traced when
    ``trace``), then the correctness checks. Returns the end-to-end
    metrics (without ``setup_s``), the per-layer metrics when traced, and
    the run record."""
    from check_oracles import stable_sig
    from workloads import (MIN_WARM_PASSES, check_star, oracle_digests, output_files,
                           recalls)

    load_start = os.getloadavg()[0]
    r = Runner(spark, catalog, workload, data, run_dir)
    t_cold = time.perf_counter()
    _cold_wall, cold_rows, cold_cpu = r.one_pass(0, cold=True)
    attempted = len({row for _p, row in r.row_walls} | set(r.failed))
    oracles = catalog.oracle_sql()
    rows_only = frozenset(n for n in r.rows or () if n not in oracles)

    warm, warm_cpu, walls, traced, traced_ids = [], [], [], [], []
    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer(spark)
    t_warm = time.perf_counter()
    pass_id = 1
    while True:
        use_trace = tracer is not None and pass_id % 2 == 0
        if use_trace:
            tracer.install()
            r.tracer = tracer
        # pass 1 digests the rows-only rows a second time
        wall, rows, cpu = r.one_pass(pass_id,
                                     digest=rows_only if pass_id == 1 else frozenset())
        if use_trace:
            r.tracer = None
            tracer.uninstall()
            traced.append(wall)
            traced_ids.append(pass_id)
        else:
            warm.append(wall)
            warm_cpu.append(cpu)
            walls += rows
        pass_id += 1
        # traced runs end on an untraced pass, so each traced pass sits
        # between two untraced ones
        if ((tracer is None or (traced and len(warm) > len(traced)))
                and len(warm) >= MIN_WARM_PASSES.get(workload, 1)
                and time.perf_counter() - t_warm >= seconds):
            break
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    driver_rss_mb, jvm_rss_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
    load_end = os.getloadavg()[0]
    t_check = time.perf_counter()

    # ---- correctness, off the timed path ----
    if r.rows is None:
        for f in check_star(data, r.out, manifest):
            r._fail("build_star_schema", f)
        files_written, stored = output_files(r.out)
        recall = {}
    else:
        expected, truth = oracle_digests(data, r.rows, oracles, stable_sig)
        recall = recalls(truth, r.kept)
        for name in r.rows:
            got = r.digests.get(name, [])
            if name in expected and got[:1] != [expected[name]]:
                r._fail(name, "digest differs from the DuckDB oracle")
            elif name in rows_only and (len(got) < 2 or len(set(got)) != 1):
                r._fail(name, f"digest not repeated across passes ({len(got)} digests)")
        files_written, stored = 0, 0
    phases = {"cold": t_warm - t_cold, "warm": t_check - t_warm,
              "check": time.perf_counter() - t_check}

    n_q = len(walls)
    e2e = {
        "pass_s": (statistics.median(warm), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_p90_s": (p90(walls), "s"),
        "cold_pass_s": (sum(cold_rows), "s"),
        "pass_cpu_s": (statistics.fmean(warm_cpu), "s"),
        "cold_pass_cpu_s": (cold_cpu, "s"),
        "peak_rss_mb": (max(driver_rss_mb, jvm_rss_mb), "MB"),
    }
    record = {
        "workload": workload, "nproc": cores(), "load1_start": load_start,
        "load1_end": load_end, "inputs": manifest, "driver_rss_mb": driver_rss_mb,
        "jvm_rss_mb": jvm_rss_mb, "phase_s": phases, "recall_at_5": recall,
        "samples": {"pass_s": len(warm), "pass_cpu_s": len(warm), "query": n_q,
                    "cold_pass_s": 1, "cold_pass_cpu_s": 1, "peak_rss_mb": 1},
        # the highest percentile with at least ten samples beyond it
        "query_tail_percentile": max(0, int(100 * (1 - 10 / n_q))) if n_q else 0,
        "attempted": attempted, "failed": len(r.failed),
        "failed_share": len(r.failed) / attempted, "failures": r.failed,
        "files_written": files_written,
        "stored_bytes_per_input_byte": stored / sum(t["bytes"] for t in manifest.values()),
    }
    layer = None
    if tracer is not None:
        from spans import layer_metrics

        layer = layer_metrics(tracer, traced_ids, r.row_walls, cores())
        traced_pass = statistics.median(traced)
        accounted = (layer["plans.pipeline.run_s"] + layer["qc.s"] if r.rows is None
                     else layer["catalog.build_s"] + layer["catalog.exec_s"])
        layer.update({
            "pass_s": e2e["pass_s"][0],
            "cold_pass_s": e2e["cold_pass_s"][0],
            "query_p50_s": e2e["query_p50_s"][0],
            "query_p90_s": e2e["query_p90_s"][0],
            "peak_rss_mb": e2e["peak_rss_mb"][0],
            "trace.pass_s": traced_pass,
            "trace.residual_s": traced_pass - accounted,
            "trace.overhead_share": traced_pass / statistics.median(warm) - 1,
            "failed_share": record["failed_share"],
            "files_written": files_written,
            "stored_bytes_per_input_byte": record["stored_bytes_per_input_byte"],
        })
    return {"e2e": e2e, "layer": layer, "record": record}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        sys.exit(f"run.py: package {PKG} not found next to {HERE}; run from a checkout")
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    prepare(run_dir)
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            sys.exit(f"run.py: --workload must be one of {', '.join(WORKLOADS)}")
        run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> None:
    import pyspark

    from spans import with_units

    # One set-up sample per run: a second session needs a second process
    # and JVM, about 4 s a run, which the benchmark's time budget (README.md)
    # does not leave room for.
    spark, catalog, start_s, setup_s = start_session()
    t_gen = time.perf_counter()
    data, manifest = inputs(args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    res = measure(spark, catalog, args.workload, data, manifest, run_dir, args.seconds,
                  bool(args.trace))
    t_stop = time.perf_counter()
    stop_session(spark)
    e2e, record = res["e2e"], res["record"]
    record["phase_s"].update(gen=gen_s, stop=time.perf_counter() - t_stop)
    e2e["setup_s"] = (setup_s, "s")
    record.update(seed=args.seed, trace=args.trace, spark=pyspark.__version__,
                  python=platform.python_version(), session_start_s=start_s)
    record["samples"]["setup_s"] = 1
    for k, (v, unit) in e2e.items():
        print(f"{k:<14} {v:12.4f} {unit:<3} n={record['samples'].get(k, record['samples']['query'])}")
    print(f"failed_share   {record['failed_share']:12.4f} of {record['attempted']} rows")
    print(json.dumps({"record": record}))
    if args.trace:
        metrics = with_units({**res["layer"], "session.start_s": start_s})
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
