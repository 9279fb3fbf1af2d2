"""Benchmark of the near-dup engine, run the way users run it: an
in-process ``yadf_spark.cli.run(...)`` on a session this script creates.

    python3 perfbench/run.py --workload skew_10k --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Protocol, fixed before any measurement (no count depends on a measured
value):

1. set up ``SETUP_ROUNDS`` times: start the JVM and session (later
   rounds: stop and restart the session) and generate or load the
   seeded input; ``setup_s`` is the median round;
2. ``--trace 0``: one CLI run, the first on the session, timed and
   checked against the planted truth. A CLI invocation pays exactly
   this after JVM start: cold JIT, fresh Python workers. It is the
   whole measured phase (``--seconds`` should be at least its length);
   a warm run would need a warm-up longer than the run itself;
3. ``--trace 1``: the cold CLI run (checked; only its peak memory is
   reported, as ``total.peak_rss_mb``), then one traced run that calls
   the engine's layers one by one (``traced.py``) between two warm
   untraced CLI runs; per-layer metrics and spans are written under
   ``.perfbench_out/`` and the overhead of tracing is the traced wall
   time minus the mean of the two warm runs.

Peak memory is a per-layer metric, not an end-to-end one: at these input
sizes it follows G1's time-driven heap growth and how many Python
workers happen to run at once, and it varies too much between runs of
the same input to carry a bound.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Inputs are cached under
``.perfbench_cache/`` by (workload, seed, size); scratch files live in
``.perfbench_work/`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pandas as pd

from checks import CHECKS
from probes import EventLog, PeakRss, tree_pids, tree_usage

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(HERE, "workloads.json")) as _fh:
    WORKLOADS = json.load(_fh)["workloads"]

SETUP_ROUNDS = 5
#: ``--workload all``: untraced sets, the workload order alternating
SETS = 2
#: newest cached inputs kept per workload
CACHE_KEEP = 4

#: metric names and units, as BENCHMARK.json declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[{time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


class DropCounter(logging.Handler):
    """Counts the engine's ``dropped N buckets`` recall-trade warnings."""

    _RE = re.compile(r"dropped (\d+) buckets")

    def __init__(self):
        super().__init__(logging.WARNING)
        self.dropped = 0

    def emit(self, record: logging.LogRecord) -> None:
        m = self._RE.search(record.getMessage())
        if m:
            self.dropped += int(m.group(1))


def session_conf(work: str) -> tuple[int, str, dict]:
    """Cores from the CPUs this process may use, driver memory (the heap
    maximum) a sixteenth of host RAM (1 to 4 GiB), an uncompressed
    single-file event log, and every scratch directory inside the
    checkout. The heap grows as the engine needs it, so peak memory
    follows the engine's memory use."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    driver_mb = max(1024, min(4096, total_kb // 16 // 1024))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.local.dir": tmp,
        # -XX:-UsePerfData: no hsperfdata file, which the JVM writes to
        # /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    for d in (tmp, conf["spark.eventLog.dir"]):
        os.makedirs(d, exist_ok=True)
    return cores, f"{driver_mb}m", conf


class Bench:
    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.wl = WORKLOADS[name]
        self.kind = self.wl["kind"]
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        os.makedirs(self.work)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
        # the short-lived JVM spark-submit runs to build the Spark driver command
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        self.cores, self.driver_memory, self.conf = session_conf(self.work)
        self.spark = None
        self.events = None
        self.runs = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.drops = DropCounter()
        logging.getLogger("yadf_spark.operators.minhash").addHandler(self.drops)

    # -- set-up ------------------------------------------------------------
    def setup_round(self) -> float:
        from yadf_spark.session import get_spark

        import inputs

        t0 = time.perf_counter()
        self.inp, self.meta = inputs.ensure(
            self.cache, self.name, self.kind, self.seed, self.wl["size"]
        )
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            cores=self.cores,
            driver_memory=self.driver_memory,
            extra_conf=self.conf,
        )
        self.truth = pd.read_parquet(os.path.join(self.inp, "truth.parquet"))
        elapsed = time.perf_counter() - t0
        evdir = self.conf["spark.eventLog.dir"]
        app = self.spark.sparkContext.applicationId
        log_file = next(f for f in os.listdir(evdir) if f.startswith(app))
        self.events = EventLog(os.path.join(evdir, log_file))
        return elapsed

    def prune_cache(self) -> None:
        mine = [
            os.path.join(self.cache, d)
            for d in os.listdir(self.cache)
            if d.startswith(f"{self.name}-seed") and os.path.join(self.cache, d) != self.inp
        ]
        mine.sort(key=os.path.getmtime, reverse=True)
        for d in mine[CACHE_KEEP - 1 :]:
            shutil.rmtree(d, ignore_errors=True)

    # -- one CLI run ---------------------------------------------------------
    def outputs(self) -> dict:
        self.runs += 1
        base = os.path.join(self.work, f"out-{self.runs}")
        return {k: os.path.join(base, k) for k in ("clusters", "groups", "novel", "checkpoint")}

    def cli_argv(self, out: dict) -> list[str]:
        argv = ["--mode", "near-dup", "-f", "ld-json", "--output-dir", out["groups"],
                "--cluster-table", out["clusters"]]
        if self.kind == "gate":
            return argv + [
                "--table", os.path.join(self.inp, "batch"),
                "--against", os.path.join(self.inp, "history"),
                "--novel-table", out["novel"],
                "--checkpoint-dir", out["checkpoint"],
            ]
        return argv + ["--table", os.path.join(self.inp, "table")]

    def check(self, label: str, out: dict) -> dict | None:
        quality, failures = CHECKS[self.kind](out, self.truth)
        for f in failures:
            self.failures.append(f"{label}: {f}")
            log(f"FAILED {self.name} {label}: {f}")
        return None if failures else quality

    def cli_run(self, label: str) -> dict | None:
        """One CLI run: wall, process-tree CPU and memory, event-log
        totals and the output check; None when it raised or failed."""
        from yadf_spark import cli

        out = self.outputs()
        args = cli.build_parser().parse_args(self.cli_argv(out))
        self.attempted += 1
        self.events.read_new()
        steal0 = _steal_s()
        pid = os.getpid()
        try:
            with PeakRss(pid) as rss:
                cpu0 = tree_usage(pid)[0]
                t0 = time.perf_counter()
                cli.run(args, spark=self.spark)
                wall = time.perf_counter() - t0
                cpu = tree_usage(pid)[0] - cpu0
        except Exception as exc:  # a run that raises is a counted failure
            self.failures.append(f"{label}: {type(exc).__name__}: {exc}")
            log(f"FAILED {self.name} {label}: {type(exc).__name__}: {exc}")
            return None
        steal = _steal_s() - steal0
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        totals = self.events.totals(self.events.read_new())
        log(
            f"{self.name} {label}: {wall:.3f} s wall, {cpu:.1f} s CPU, "
            f"{totals['gc_s']:.1f} s executor GC, {steal:.1f} s host steal"
        )
        quality = self.check(label, out)
        shutil.rmtree(os.path.dirname(out["clusters"]), ignore_errors=True)
        if quality is None:
            return None
        rows = self.meta["rows"]
        return {
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "cpu_s": cpu,
            "shuffle_bytes": totals["shuffle_bytes"],
            "py_bytes": totals["py_bytes"],
            "peak_rss_mb": rss.peak_mb,
            **quality,
        }

    # -- traced run ----------------------------------------------------------
    def trace_run(self) -> dict:
        import traced

        out = self.outputs()
        sc = self.spark.sparkContext
        t = traced.Tracer(sc, f"{self.name}-seed{self.seed}")
        self.attempted += 1
        self.events.read_new()
        drops0 = self.drops.dropped
        t0 = time.perf_counter()
        try:
            extra = traced.TRACED[self.kind](self.spark, t, self.inp, out)
        except Exception as exc:
            self.failures.append(f"traced: {type(exc).__name__}: {exc}")
            log(f"FAILED {self.name} traced: {type(exc).__name__}: {exc}")
            return {}
        finally:
            sc.setJobDescription(None)
        wall = time.perf_counter() - t0 - t.probe_seconds()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        per_tag = self.events.rollup(self.events.read_new())
        self.check("traced", out)
        self_times = t.self_times()
        metrics = {}
        for layer in traced.LAYERS:
            acc = per_tag.get(f"bench:{layer}", {})
            metrics.update(
                {
                    f"{layer}.wall_s": self_times[layer],
                    f"{layer}.cpu_s": acc.get("cpu_s", 0.0),
                    f"{layer}.wait_s": acc.get("run_s", 0.0) - acc.get("cpu_s", 0.0),
                    f"{layer}.gc_s": acc.get("gc_s", 0.0),
                    f"{layer}.shuffle_bytes": acc.get("shuffle_bytes", 0),
                    f"{layer}.py_bytes": acc.get("py_bytes", 0),
                    f"{layer}.rows_out": extra["rows_out"].get(layer, 0),
                    f"{layer}.tasks_failed": acc.get("tasks_failed", 0),
                }
            )
        for layer in ("checkpoint", "sinks"):
            metrics[f"{layer}.bytes_written"] = per_tag.get(f"bench:{layer}", {}).get("bytes_written", 0)
        metrics.update({k: v for k, v in extra.items() if k != "rows_out"})
        metrics["minhash.buckets_dropped"] = self.drops.dropped - drops0
        metrics["total.wall_s"] = wall
        self.check_expected(metrics)
        self.spans = t.spans
        shutil.rmtree(os.path.dirname(out["clusters"]), ignore_errors=True)
        return metrics

    def write_report(self, metrics: dict) -> None:
        report = os.path.join(ROOT, ".perfbench_out", f"{self.name}-seed{self.seed}-trace.json")
        os.makedirs(os.path.dirname(report), exist_ok=True)
        with open(report, "w") as fh:
            json.dump(
                {"workload": self.name, "seed": self.seed, "metrics": metrics, "spans": self.spans},
                fh,
                indent=1,
            )
        log(f"{self.name}: spans and per-layer metrics written to {os.path.relpath(report, ROOT)}")

    def check_expected(self, metrics: dict) -> None:
        """Recall-trade counters and stage rows the workload pins: the
        static values in workloads.json plus those its generator derived
        from the data."""
        expected = {**self.wl["expected"], "sources.rows_out": self.meta["rows"]}
        if "representatives" in self.meta:
            expected["pipeline.collapse_ratio"] = self.meta["representatives"] / self.meta["rows"]
            expected["components.rows_out"] = self.meta["rows"]
        for k, want in expected.items():
            if metrics[k] != want:
                self.failures.append(f"traced: {k} is {metrics[k]}, expected {want}")
                log(f"FAILED {self.name} traced: {k} is {metrics[k]}, expected {want}")

    # -- teardown ------------------------------------------------------------
    def close(self) -> None:
        """Stop the session and the JVM it runs in, and wait until every
        process this run started has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            time.sleep(0.1)
        for p in children:
            log(f"killing process {p}, still running 30 s after shutdown")
            os.kill(p, signal.SIGKILL)
        shutil.rmtree(self.work, ignore_errors=True)


def _steal_s() -> float:
    """CPU time the hypervisor took from this VM's CPUs, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_workload(name: str, seed: int, traced: bool) -> dict:
    units = PER_LAYER if traced else END_TO_END
    bench = Bench(name, seed)
    try:
        setups = [bench.setup_round() for _ in range(SETUP_ROUNDS)]
        bench.prune_cache()
        log(f"{name}: setup rounds {[round(s, 3) for s in setups]} s, input {bench.meta}")
        cold = bench.cli_run("cold run")
        values = cold or {}
        if traced:
            before = bench.cli_run("warm run")
            values = bench.trace_run()
            if values and cold:
                values["total.peak_rss_mb"] = cold["peak_rss_mb"]
            after = bench.cli_run("warm run")
            if values and before and after:
                # the JIT is still warming: bracket the traced run
                untraced = (before["wall_s"] + after["wall_s"]) / 2
                values["total.trace_overhead_s"] = values["total.wall_s"] - untraced
            if values:
                bench.write_report(values)
        elif values:
            values["setup_s"] = statistics.median(setups)
    finally:
        bench.close()
    metrics = {k: metric(values[k], u) for k, u in units.items() if k in values}
    for k, m in metrics.items():
        log(f"{name}: {k} = {m['value']:.6g} {m['unit']}")
    failed = len(bench.failures)
    return {
        "correct": failed == 0 and len(metrics) == len(units),
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }


def run_all(seed: int, seconds: int) -> dict:
    """Every workload, untraced, in ``SETS`` sets whose order alternates,
    then one traced run each; one child process per run."""
    names = list(WORKLOADS)
    results: dict = {}
    plan = [(n, 0) for i in range(SETS) for n in (names if i % 2 == 0 else names[::-1])]
    plan += [(n, 1) for n in names]
    for name, traced in plan:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(traced)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"{name} (trace {traced}) exited with code {proc.returncode}")
        results.setdefault(f"{name}.trace{traced}", []).append(json.loads(lines[-1]))
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for key, rs in results.items():
        for k, r in enumerate(rs):
            merged["correct"] &= r["correct"]
            merged["attempted"] += r["attempted"]
            merged["failed"] += r["failed"]
            for m, v in r["metrics"].items():
                merged["metrics"][f"{key}.set{k}.{m}"] = v
    return merged


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import yadf_spark
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(yadf_spark.__file__))) != ROOT:
        log(f"the engine must come from {ROOT}, not {yadf_spark.__file__}")
        return 2
    if args.workload == "all":
        result = run_all(args.seed, args.seconds)
    else:
        result = run_workload(args.workload, args.seed, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
