"""Benchmark for the engine: incremental history ingest and corpus curation.

    python3 perfbench/run.py --workload history_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One process runs one workload on
``local[<half the cores>]`` from one closed-loop client: set up ``SETUPS`` times
(``setup_s`` is the median), ``WARMUP_PASSES`` untimed passes, then whole
passes until ``--seconds`` of measured time.  Every result is compared
with its DuckDB oracle after the timed loop.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` mixes untraced and traced passes, prints
the per-layer metrics and writes the spans to ``perfbench/traces/``.  The
last line of stdout is one JSON object.  Metric units come from
BENCHMARK.json.  Peak RSS is reset after the warm-up, so ``peak_rss_mb``
covers the measured passes only.

Everything else the run writes (inputs, Spark local dirs, warehouse,
pipeline output) goes under ``perfbench/.work/`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

START = time.perf_counter()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETUPS = 3  # set-ups per run; setup_s is their median
# driver JVM heap: the inputs need far less, and a small cap bounds how much
# peak RSS varies with when the collector chooses to grow the heap
DRIVER_MEM = "1g"
# untimed passes before measuring.  The JVM's JIT keeps compiling for
# several passes (CPU per pass falls by about half over the first eight);
# the first pass is the cold one and the second is still about a tenth
# slower than the third, so measuring from the third keeps the trend inside
# the measured window small
WARMUP_PASSES = 2
DEADLINE_S = 140  # a run still going after this is stopped and fails
STOP_DEADLINE_S = 25  # stopping Spark longer than this kills its processes
SELF_TIME_LAYERS = ("bench", "plans", "operators", "streaming", "spark")


class RunTimeout(BaseException):
    """The run passed ``DEADLINE_S``.  Not an ``Exception``, so the handler
    that records a failed operation lets it through to ``main``."""


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` ("end_to_end" or "per_layer"),
    as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, but never below p90: a run measures tens of
    operations, where the ten-beyond rule would fall to the median.  The
    caller prints how many samples lie beyond."""
    s = sorted(lat)
    pct = max(0.9, 1 - 10 / len(s))
    return s[math.ceil(pct * len(s)) - 1], 100 * pct


class Run:
    def __init__(self, args, workload, work: str):
        from probe import Tracer

        self.args = args
        self.wl = workload
        self.work = work
        self.data_dir = f"{work}/data"
        self.tracer = Tracer(args.trace == 1)
        self.counters = None
        self.spark = None
        self.records: list[dict] = []
        self.cycle_no = -1
        self.batch_files: list[int] = []
        self.storage_mb: list[float] = []
        self._files_seen: dict[str, int] = {}

    # ---- session ------------------------------------------------------
    def conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }

    def setup(self) -> dict[str, float]:
        """Session up and every input table loaded and scanned once,
        ``SETUPS`` times: the first launches the JVM, the others restart
        the SparkContext inside it."""
        from data_engineering_project_utn_spark.session import get_spark
        from data_engineering_project_utn_spark.tables import load_table

        totals, starts, warms = [], [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(app_name="perfbench", extra_conf=self.conf())
            t1 = time.perf_counter()
            for t in self.wl.tables:
                with self.tracer.span("tables.load_table"):
                    load_table(self.spark, self.data_dir, t).count()
            t2 = time.perf_counter()
            totals.append(t2 - t0)
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        self.spark.sparkContext.setLogLevel("ERROR")
        return {"setup_s": _median(totals), "session.start_s": starts[0], "tables.warm_s": _median(warms)}

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        import probe

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        pids = probe.descendants(proc.pid) if proc else []
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # ---- operations ---------------------------------------------------
    def op(self, name: str, family: str, rows: float, fn, expect_key) -> None:
        """Run one operation inside its own ``pin_scope()`` and record its
        latency and result; results are checked after the timed loop."""
        from data_engineering_project_utn_spark.persist import pin_scope

        op_id = len(self.records)
        traced = self.tracer.enabled
        if traced:
            self.tracer.op_id = op_id
            self.counters.group = f"perfbench-{op_id}"
            self.spark.sparkContext.setJobGroup(self.counters.group, name)
        pdf, err = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.op"), pin_scope():
                pdf = fn()
        except Exception:
            err = traceback.format_exc(limit=6)
            print(f"perfbench: {name} failed:\n{err}", file=sys.stderr)
        lat = time.perf_counter() - t0
        if traced:
            self.storage_mb.append(self.counters.read()["memory_used_b"] / 2**20)
            self.counters.group = None
            self.spark.sparkContext.setJobGroup("perfbench-idle", "between operations")
        self.records.append(
            {"name": name, "family": family, "rows": rows, "latency": lat, "pdf": pdf,
             "err": err, "key": expect_key, "traced": traced, "cycle": self.cycle_no}
        )

    def after_batch(self, pipe) -> None:
        """Traced passes count the data files each batch wrote or rewrote."""
        if not self.tracer.enabled:
            return
        from workloads import data_files

        now = {**data_files(pipe.accumulator_path), **data_files(pipe.output_path)}
        self.batch_files.append(sum(1 for p, m in now.items() if self._files_seen.get(p) != m))
        self._files_seen = now

    def sentinel(self) -> float:
        """A plain parquet scan and group-by that uses no engine code, to
        tell machine drift from program change."""
        from pyspark.sql import functions as F

        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            (
                self.spark.read.parquet(f"{self.data_dir}/lineitem.parquet")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count("*"))
                .collect()
            )
            times.append(time.perf_counter() - t0)
        return _median(times)

    # ---- the run ------------------------------------------------------
    def phase(self, name: str) -> None:
        """Print how long the phase that just ended took."""
        now = time.perf_counter()
        print(f"phase {name}: {now - self._t:.2f} s")
        self._t = now

    def main(self) -> dict:
        import numpy as np

        import inputs
        from probe import SparkCounters, hwm_mb, reset_hwm, self_cpu_s, tree_cpu_s
        from tests.oracle_harness import canonicalize

        self._t = START
        self.phase("imports")
        os.makedirs(self.data_dir)
        rng = np.random.default_rng(self.args.seed)
        self.wl.make_inputs(rng, self.data_dir)
        inputs.lineitem(rng, 60_000, f"{self.data_dir}/lineitem.parquet")
        self.phase("inputs")
        self.wl.compute_expected(self.data_dir, f"{self.work}/tmp")
        self.phase("oracles")

        setup = self.setup()
        self.phase("setup")
        self.tracer.enabled = False
        self.counters = self.tracer.counters = SparkCounters(self.spark)
        self.wl.prepare(self)
        self.phase("prepare")

        for _ in range(WARMUP_PASSES):  # untimed, unchecked
            self.wl.cycle(self)
            self.wl.end_cycle(self)
        self.records.clear()
        self.phase("warm-up")
        sentinel = self.sentinel()
        print(f"machine sentinel: {sentinel:.4f} s")
        self.phase("sentinel")

        trace = self.args.trace == 1
        jvm = self.spark.sparkContext._gateway.proc.pid
        # peak RSS covers the measured passes only, not the inputs, the
        # oracles and the set-up that ran in these processes before them
        reset_hwm(jvm)
        reset_hwm(os.getpid())
        cycles, measured = [], 0.0
        # traced runs measure passes in the order U T T U, repeated, so the
        # warm-up trend cancels out of the traced-minus-untraced overhead
        while measured < self.args.seconds or (trace and len(cycles) % 4):
            self.cycle_no = len(cycles)
            traced = trace and self.cycle_no % 4 in (1, 2)
            self.tracer.enabled = traced
            self._files_seen = {}
            c0 = tree_cpu_s(jvm) + self_cpu_s()
            t0 = time.perf_counter()
            self.wl.cycle(self)
            self.wl.end_cycle(self)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(jvm) + self_cpu_s() - c0
            self.tracer.enabled = False
            if not self.wl.check_cycle(self):
                print(f"perfbench: pass {self.cycle_no} final output differs from its oracle", file=sys.stderr)
                self.records[-1]["err"] = "final output differs from its oracle"
            cycles.append({"wall": wall, "cpu": cpu, "traced": traced})
            print(f"pass {self.cycle_no}: {wall:.3f} s wall, {cpu:.2f} s CPU{' (traced)' if traced else ''}")
            measured += wall
        jvm_mb, py_mb = hwm_mb(jvm), hwm_mb(os.getpid())
        print(f"peak RSS: JVM {jvm_mb:.1f} MB, Python driver {py_mb:.1f} MB")
        self.phase("measured")

        failed = 0
        for r in self.records:
            if r["err"] is None and canonicalize(r["pdf"]) != self.wl.expected[r["key"]]:
                r["err"] = "result differs from its oracle"
                print(f"perfbench: {r['name']} (pass {r['cycle']}) differs from its oracle", file=sys.stderr)
            failed += r["err"] is not None
            r["pdf"] = None
        self.phase("checks")

        by_name: dict[str, list[float]] = {}
        for r in self.records:
            by_name.setdefault(r["name"], []).append(r["latency"])
        for name, lat in by_name.items():
            print(f"op {name}: n={len(lat)} p50={_median(lat):.3f} s")
        if trace:
            metrics = self.layer_metrics(setup, sentinel, cycles)
            path = os.path.join(BENCH, "traces", f"{self.wl.name}-seed{self.args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.tracer.write(path, {"workload": self.wl.name, "seed": self.args.seed})
            print(f"spans: {os.path.relpath(path, ROOT)}")
        else:
            metrics = self.e2e_metrics(setup, cycles, jvm_mb + py_mb, failed)
        n = len(self.records)
        print(f"operations: {n} attempted, {failed} failed (error_rate {failed / n:.4f})")
        return {"correct": failed == 0, "attempted": n, "failed": failed, "metrics": metrics}

    def e2e_metrics(self, setup, cycles, peak_rss, failed) -> dict:
        lat = [r["latency"] for r in self.records]
        n = len(lat)
        wall = sum(c["wall"] for c in cycles)
        t, pct = tail(lat)
        beyond = sum(x > t for x in lat)
        print(f"samples: {n} operations in {len(cycles)} passes, {wall:.2f} s; tail is p{pct:.1f} with {beyond} beyond it")
        return {
            "setup_s": setup["setup_s"],
            "latency_p50_s": _median(lat),
            "latency_tail_s": t,
            "ops_per_s": n / wall,
            "rows_per_s": sum(r["rows"] for r in self.records) / wall,
            "cpu_s_per_op": sum(c["cpu"] for c in cycles) / n,
            "peak_rss_mb": peak_rss,
            "success_rate": 1 - failed / n,
        }

    def layer_metrics(self, setup, sentinel, cycles) -> dict:
        from workloads import data_files

        recs = [r for r in self.records if r["traced"]]
        n = len(recs)
        spans = [s for s in self.tracer.spans if s["op"] is not None]

        def durs(name):
            return [s["end"] - s["start"] for s in spans if s["name"] == name]

        def per_span(name, key):
            xs = [s["counters"][key] for s in spans if s["name"] == name]
            return sum(xs) / len(xs) if xs else 0.0

        def family_pass_total(fam):
            per_cycle: dict[int, float] = {}
            for r in recs:
                if r["family"] == fam:
                    per_cycle[r["cycle"]] = per_cycle.get(r["cycle"], 0.0) + r["latency"]
            return _median(list(per_cycle.values()))

        ops = [s for s in spans if s["name"] == "bench.op"]
        op_total = {k: sum(s["counters"][k] for s in ops) for k in ("tasks", "shuffle_write_b", "input_b", "gc_ms", "failed_tasks", "jobs")}
        readback: dict[int, float] = {}
        for s in spans:
            if s["name"] in ("streaming.read_output", "operators.freshness_alarm", "spark.action"):
                readback[s["op"]] = readback.get(s["op"], 0.0) + s["end"] - s["start"]
        batches = durs("streaming.process_batch")
        pipe = getattr(self.wl, "pipe", None)
        traced_wall = sum(c["wall"] for c in cycles if c["traced"])
        untraced_wall = sum(c["wall"] for c in cycles if not c["traced"])
        self_s = self.tracer.self_time_by_layer(spans)
        cores = len(os.sched_getaffinity(0))  # the machine's, not Spark's task threads
        m = {
            "session.start_s": setup["session.start_s"],
            "tables.warm_s": setup["tables.warm_s"],
            "plans.build_s_p50": _median(durs("plans.build")),
            "plans.build_jobs": per_span("plans.build", "jobs"),
            "plans.action_s_p50": _median(durs("plans.action")),
            "plans.action_jobs": per_span("plans.action", "jobs"),
            "llm.text_s": family_pass_total("text"),
            "llm.dedup_s": family_pass_total("dedup"),
            "llm.similarity_s": family_pass_total("similarity"),
            "llm.curation_s": family_pass_total("curation"),
            "streaming.process_batch_s_p50": _median(batches),
            "streaming.read_output_s_p50": _median(list(readback.values())),
            "streaming.input_mb_per_batch": per_span("streaming.process_batch", "input_b") / 2**20,
            "streaming.instances_touched_share": getattr(self.wl, "instances_touched_share", 0.0),
            "sources.files_per_batch": sum(self.batch_files) / len(self.batch_files) if self.batch_files else 0.0,
            "sources.accumulator_files_end": len(data_files(pipe.accumulator_path)) if pipe else 0,
            "sources.output_files_end": len(data_files(pipe.output_path)) if pipe else 0,
            "spark.jobs_per_op": op_total["jobs"] / n,
            "spark.tasks_per_op": op_total["tasks"] / n,
            "spark.shuffle_write_mb_per_op": op_total["shuffle_write_b"] / 2**20 / n,
            "spark.input_mb_per_op": op_total["input_b"] / 2**20 / n,
            "spark.gc_s_per_op": op_total["gc_ms"] / 1000 / n,
            "spark.failed_tasks": op_total["failed_tasks"],
            "spark.cpu_util": sum(c["cpu"] for c in cycles if c["traced"]) / (traced_wall * cores),
            "persist.storage_mb_max": max(self.storage_mb, default=0.0),
            "machine.sentinel_s": sentinel,
            "trace.overhead_s": (traced_wall - untraced_wall) / n,
            "sample.ops": n,
        }
        for layer in SELF_TIME_LAYERS:
            m[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0) / n
        return m


def kill_descendants() -> None:
    """Kill every process this one started, and reap them."""
    import probe

    for pid in probe.descendants(os.getpid()):
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while True:
        try:
            os.wait()
        except ChildProcessError:
            break


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise RunTimeout(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    sys.path[:0] = [BENCH, ROOT]
    try:
        import data_engineering_project_utn_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(BENCH, ".work"))
    os.makedirs(f"{work}/tmp")
    tempfile.tempdir = f"{work}/tmp"
    # Spark's task threads get half the cores: the JIT compiler and GC
    # threads, the Python driver and the Python workers need the rest.  With
    # as many task threads as cores, CPU per operation varied about three
    # times as much from run to run and latency was no lower
    cores = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.update(
        SPARK_GRAFT_CPUS=cores,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        PYSPARK_PYTHON=sys.executable,
    )
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    run = None
    try:
        run = Run(args, WORKLOADS[args.workload](), work)
        result = run.main()
        declared = units("per_layer" if args.trace else "end_to_end")
        if set(result["metrics"]) != set(declared):
            raise ValueError(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ set(declared))}")
    except (Exception, RunTimeout):
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(STOP_DEADLINE_S)
        try:
            if run is not None and run.spark is not None:
                run.stop()
        except RunTimeout:
            kill_descendants()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, ".work"))
        except OSError:
            pass
    for name, value in result["metrics"].items():
        print(f"{args.workload:18s} {name:40s} {value:14.6f} {declared[name]}")
    result["metrics"] = {k: {"value": v, "unit": declared[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
