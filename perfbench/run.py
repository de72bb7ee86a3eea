"""Closed-loop benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload light-etl --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

One client runs ops back to back on ``local[nproc]``. A pass runs every op
of the workload once, in the seed's order. Pass 0 checks each op's output
against DuckDB; pass 1 warms every op; neither is timed. Then come as many
timed passes as fit in ``--seconds`` at the workload's nominal pass time,
at least ``MIN_PASSES``. Throughput is taken at each op's median over the
timed passes, so one pass slowed by outside load on a shared host does
not move it.
The benchmark calls only the program's public entry points
(``session.get_spark``, ``registry.specs`` and each builder, ``io.load``,
``sources.etl``, ``sources.pipeline``) and times them from outside; it
sets no Spark conf of its own.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: pass 1 runs every op under job groups
``<workload>:<op>:build|exec#<id>`` and reads the Spark ledger after each
op; the timed passes trace every other op, so ``trace.overhead_ratio``
(traced ÷ untraced ops per second) compares the two inside one run.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The lines before it print every metric with
its unit for a reader, and a result file under ``perfbench/.data/results``
keeps the run context, every op sample, the failures and the spans.
Generated inputs are kept under ``perfbench/.data`` and reused per seed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
SCALE = 0.01
# timed passes at least, so that each op's median ignores its slowest run
MIN_PASSES = 3

import gen  # noqa: E402
import ledger  # noqa: E402
import workloads  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*workloads.NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _isolate(run_dir: str) -> None:
    """Keep every scratch file of this run (Python, Spark and JVM temp
    files) inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    )))


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    """One run of one workload."""

    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.tracer = ledger.Tracer()
        self.records: list[dict] = []
        self.failures: dict[str, str] = {}
        self.rows_out: dict[str, int] = {}
        self.op_id = 0

    # ------------------------------------------------------------- set-up

    def prepare(self) -> None:
        """Generate or reuse the inputs and open the oracle: not set-up."""
        t = time.perf_counter()
        base = gen.ensure_base(DATA, SCALE)
        if self.args.workload == workloads.HEAVY:
            self.data_dir = gen.ensure_neardup(DATA, SCALE, self.args.seed)
        else:
            self.data_dir = base
        self.input = gen.manifest(self.data_dir)
        from tests import oracle_check

        self.oracle_check = oracle_check
        self.duck = oracle_check.duck_connect(self.data_dir)
        self.prepare_s = time.perf_counter() - t

    def setup(self) -> None:
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
        # the program's own table cache (io.load), as bench.py uses it
        os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
        span = self.tracer.span
        with span("setup"):
            with span("session"):
                from data_integration_tool_spark.session import get_spark

                self.spark = get_spark(
                    app_name=f"perfbench-{self.args.workload}",
                    shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
                self.spark.sparkContext.setLogLevel("ERROR")
                self.sc = self.spark.sparkContext
            with span("registry"):
                from data_integration_tool_spark import registry

                self.specs = registry.specs()
            with span("warmup"):
                self._warmup()
        self.setup_done = time.perf_counter()
        self.cached_bytes = ledger.stored_bytes(self.sc)
        self.ops = workloads.ordered(self._ops(), self.args.seed)
        jvm = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.pids = (os.getpid(), jvm)

    def _warmup(self) -> None:
        """Touch every table: fills io.load's table cache. The ETL ops read
        the same files, uncached."""
        from data_integration_tool_spark import io

        for table in io.TABLES:
            io.load(self.spark, self.data_dir, table).count()

    def _ops(self) -> list[workloads.Op]:
        if self.args.workload == workloads.HEAVY:
            names = [*workloads.ITERATIVE_OPS, *workloads.PAIRWISE_OPS]
        else:
            names = workloads.stratified(workloads.light_candidates(self.specs),
                                         workloads.LIGHT_SIZE)
        ops = [workloads.query_op(self.spark, self.specs[n], self.data_dir, self.duck,
                                  self.oracle_check) for n in names]
        if self.args.workload == workloads.LIGHT:
            from data_integration_tool_spark.sources import etl, pipeline

            out = os.path.join(self.run_dir, "etl-out")
            ops += workloads.etl_ops(self.spark, self.data_dir, out, self.duck, etl, pipeline)
        return ops

    # ---------------------------------------------------------------- ops

    def _group(self, op: workloads.Op, phase: str, op_id: int) -> str:
        return f"{self.args.workload}:{op.name}:{phase}#{op_id}"

    def _fail(self, rec: dict, op: workloads.Op, why: str) -> None:
        rec["ok"] = False
        self.failures.setdefault(op.name, why[:500])

    def check_op(self, op: workloads.Op) -> None:
        """Pass 0: build the op and check its output against DuckDB (ETL
        ops write first, then read back). Untimed; it also warms the op."""
        self.op_id += 1
        rec = {"op": op.name, "id": self.op_id, "pass": 0, "traced": False, "ok": True}
        span = self.tracer.span
        with span("check", op=self.op_id):
            try:
                with span("build"):
                    handle = op.build()
                if op.output_dir is not None:
                    with span("exec"):
                        op.execute(handle)
                    rec["out_bytes"], rec["out_files"] = _dir_usage(op.output_dir)
                    rec["in_bytes"] = op.input_bytes
                with span("verify"):
                    rows, problems = op.verify(handle)
                self.rows_out[op.name] = rows
                if problems:
                    self._fail(rec, op, "; ".join(problems))
            except Exception as e:  # a failing op is a result, not a crash
                self._fail(rec, op, f"{type(e).__name__}: {e}")
        self.records.append(rec)

    def run_op(self, op: workloads.Op, pass_no: int, traced: bool) -> None:
        """One timed op: build, then force. A traced op runs under job groups
        and reads the Spark ledger afterwards."""
        self.op_id += 1
        op_id, span, sc = self.op_id, self.tracer.span, self.sc
        rec = {"op": op.name, "id": op_id, "pass": pass_no, "traced": traced, "ok": True}
        start = time.perf_counter()
        with span("op", op=op_id):
            before = ledger.stored_bytes(sc) if traced else 0
            try:
                if traced:
                    sc.setJobGroup(self._group(op, "build", op_id), op.name)
                t0 = time.perf_counter()
                with span("build"):
                    handle = op.build()
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(self._group(op, "exec", op_id), op.name)
                with span("exec"):
                    op.execute(handle)
                t2 = time.perf_counter()
                rec.update(wall=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
            except Exception as e:  # a failing op is a result, not a crash
                self._fail(rec, op, f"{type(e).__name__}: {e}")
            if traced:
                rec["build"] = ledger.group_counters(sc, self._group(op, "build", op_id))
                rec["exec"] = ledger.group_counters(sc, self._group(op, "exec", op_id))
                rec["persisted_bytes"] = max(0, ledger.stored_bytes(sc) - before)
        rec["busy"] = time.perf_counter() - start
        self.records.append(rec)

    def measure(self) -> None:
        """Pass 0 checks every op; pass 1 warms every op and, in a traced
        run, reads the Spark ledger of each. Then the timed passes that fit
        in --seconds; a traced run traces every other op there, alternating
        between passes so each op runs both ways."""
        trace = bool(self.args.trace)
        for op in self.ops:
            self.check_op(op)
        for op in self.ops:
            self.run_op(op, 1, trace)
        self.passes = max(MIN_PASSES, round(
            self.args.seconds / workloads.PASS_SECONDS[self.args.workload]))
        steal = ledger.steal_seconds()
        timed = time.perf_counter()
        for p in range(self.passes):
            for i, op in enumerate(self.ops):
                self.run_op(op, p + 2, trace and (i + p) % 2 == 1)
        self.timed_s = time.perf_counter() - timed
        self.steal_s = ledger.steal_seconds() - steal

    # ------------------------------------------------------------ metrics

    def read_rss(self) -> None:
        """Peak resident memory (VmHWM) of this Python process and the JVM."""
        self.rss_mb = {name: ledger.peak_rss_mb(pid)
                       for name, pid in zip(("python", "jvm"), self.pids)}

    def outcome(self) -> tuple[int, int]:
        """Ops attempted and ops failed: raised, or disagreed with DuckDB."""
        return len(self.records), sum(not r["ok"] for r in self.records)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        timed = [r for r in self.records if r["pass"] > 1]
        walls = [r["wall"] for r in timed if r["ok"]]
        typical = ledger.op_medians(timed)
        attempted, failed = self.outcome()
        tail, self.tail_pct, self.tail_n = ledger.tail(walls)
        return {
            "setup_s": (self.setup_done - T0 - self.prepare_s, "s"),
            # one pass at each op's median wall time over the timed passes
            "ops_per_s": (len(typical) / sum(typical.values()), "op/s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "op_tail_s": (tail, "s"),
            "op_ok_ratio": ((attempted - failed) / attempted, "ok/attempted"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Ledger and spans of pass 1, where every op is traced; ETL sizes
        and readback from the check pass; the overhead ratio from the
        timed passes, which mix both modes."""
        setup = {s.name: s.duration for s in self.tracer.spans if s.parent == 0}
        self_time = self.tracer.self_times()
        ledgered = [r for r in self.records if r["pass"] == 1]
        ledgered_ids = {r["id"] for r in ledgered}
        check = [r for r in self.records if r["pass"] == 0]

        def total(phase: str, key: str) -> float:
            return sum(r[phase][key] for r in ledgered if phase in r)

        def span_total(name: str, ids: set[int]) -> float:
            return sum(self_time[s.id] for s in self.tracer.spans
                       if s.name == name and s.op in ids)

        # per-op medians in each mode: every op weighs the same in both rates,
        # however the traced ops fall across an odd number of passes
        typical = {mode: ledger.op_medians([r for r in self.records
                                            if r["traced"] == mode and r["pass"] > 1], "busy")
                   for mode in (True, False)}
        both = typical[True].keys() & typical[False].keys()
        rate = {mode: len(both) / sum(t[op] for op in both) for mode, t in typical.items()}
        exec_s = span_total("exec", ledgered_ids)
        shuffle_records = total("exec", "shuffle_write_records")
        rows = sum(self.rows_out.get(r["op"], 0) for r in ledgered)
        in_b = sum(r.get("in_bytes", 0) for r in check)
        out_b = sum(r.get("out_bytes", 0) for r in check)
        etl_check = {r["id"] for r in check if "in_bytes" in r}
        etl_names = {r["op"] for r in check if "in_bytes" in r}
        etl_ledgered = {r["id"] for r in ledgered if r["op"] in etl_names}
        verify_spans = [s for s in self.tracer.spans if s.name == "verify"]
        m = {
            "session.start_s": (setup["session"], "s"),
            "registry.import_s": (setup["registry"], "s"),
            "io.cache_fill_s": (setup["warmup"], "s"),
            "io.cached_mb": (self.cached_bytes / ledger.MB, "MB"),
            "build.s": (span_total("build", ledgered_ids), "s"),
            "build.jobs": (total("build", "jobs"), "count"),
            "build.stages": (total("build", "stages"), "count"),
            "build.tasks": (total("build", "tasks"), "count"),
            "build.persisted_mb": (
                sum(r.get("persisted_bytes", 0) for r in ledgered) / ledger.MB, "MB"),
            "exec.s": (exec_s, "s"),
            "exec.jobs": (total("exec", "jobs"), "count"),
            "exec.stages": (total("exec", "stages"), "count"),
            "exec.tasks": (total("exec", "tasks"), "count"),
            "exec.busy_ratio": (
                total("exec", "run_ms") / 1e3 / (exec_s * _cpus()) if exec_s else 0.0,
                "ratio"),
            "exec.cpu_s": (total("exec", "cpu_ns") / 1e9, "s"),
            "exec.gc_s": (total("exec", "gc_ms") / 1e3, "s"),
            "exec.shuffle_write_records": (shuffle_records, "count"),
            "exec.shuffle_write_mb": (total("exec", "shuffle_write_bytes") / ledger.MB, "MB"),
            "exec.shuffle_read_mb": (total("exec", "shuffle_read_bytes") / ledger.MB, "MB"),
            "exec.spill_mb": (total("exec", "spill_bytes") / ledger.MB, "MB"),
            "exec.rows_out_per_shuffle_record": (
                rows / shuffle_records if shuffle_records else 0.0, "ratio"),
            # failed tasks of every Spark job the op ran, eager build jobs included
            "exec.failed_tasks": (
                total("exec", "failed_tasks") + total("build", "failed_tasks"), "count"),
            "etl.read_s": (sum(s.duration for s in verify_spans if s.op in etl_check), "s"),
            "etl.write_s": (span_total("exec", etl_ledgered), "s"),
            "etl.input_mb": (in_b / ledger.MB, "MB"),
            "etl.output_mb": (out_b / ledger.MB, "MB"),
            "etl.files_written": (sum(r.get("out_files", 0) for r in check), "count"),
            "etl.out_bytes_per_in_byte": (out_b / in_b if in_b else 0.0, "ratio"),
            "verify.s": (sum(s.duration for s in verify_spans), "s"),
            "mem.peak_rss_mb": (sum(self.rss_mb.values()), "MB"),
            "trace.overhead_ratio": (rate[True] / rate[False], "ratio"),
        }
        return m

    def context(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": _cpus(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "git_commit": _git_commit(),
            "spark": pyspark.__version__,
            "java": self.sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "scale": SCALE,
            "input": self.input,
            "ops": [op.name for op in self.ops],
            "passes": self.passes,
            "timed_s": self.timed_s,
            "steal_s": self.steal_s,
            "prepare_s": self.prepare_s,
            "peak_rss_mb": self.rss_mb,
        }


def _dir_usage(path: str) -> tuple[int, int]:
    """Bytes and number of data files under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def run_one(args: argparse.Namespace) -> int:
    os.makedirs(DATA, exist_ok=True)
    run_dir = tempfile.mkdtemp(dir=DATA, prefix="run-")
    loadavg_start = os.getloadavg()
    bench = Bench(args, run_dir)
    spark = None
    try:
        _isolate(run_dir)
        sys.path.insert(0, ROOT)
        import data_integration_tool_spark  # noqa: F401  (fail before generating inputs)

        bench.prepare()
        bench.setup()
        spark = bench.spark
        bench.measure()
        bench.read_rss()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        context = bench.context()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    context["loadavg"] = {"start": loadavg_start, "end": os.getloadavg()}
    attempted, failed = bench.outcome()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(metrics) or not all(map(ledger.valid_name, metrics)):
        raise ValueError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(declared)}")

    results = os.path.join(DATA, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({
            "context": context,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "failures": bench.failures,
            "records": bench.records,
            "spans": [dataclasses.asdict(s) for s in bench.tracer.spans],
        }, f, indent=1, default=float)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={context['SPARK_GRAFT_CPUS']} passes={context['passes']} "
          f"timed={context['timed_s']:.1f}s steal={context['steal_s']:.1f}s "
          f"loadavg={context['loadavg']['start'][0]:.2f}->{context['loadavg']['end'][0]:.2f}")
    for name, (value, unit) in metrics.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (p{bench.tail_pct:.1f} of n={bench.tail_n})"
        print(f"  {name:34s} {value:14.6g} {unit}{note}")
    print(f"  {'op_fail_ratio':34s} {failed}/{attempted} failed/attempted"
          f"  failing: {', '.join(sorted(bench.failures)) or '-'}")
    for name, why in sorted(bench.failures.items()):
        print(f"    {name}: {why}")
    inp = context["input"]
    print(f"  input: {inp['bytes'] / ledger.MB:.2f} MB, rows {inp['rows']}, document "
          f"exact-dup share {inp.get('documents.exact_dup_share', 0):.3f}, "
          f"near-dup share {inp.get('documents.near_dup_share', 0):.3f}")
    print(f"  result file: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_all(args: argparse.Namespace) -> int:
    """Every workload in its own process; one summary table."""
    rows = []
    for w in workloads.NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        sys.stdout.write(out.stdout)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            return out.returncode
        rows.append((w, json.loads(out.stdout.strip().splitlines()[-1])))
    print()
    names = list(rows[0][1]["metrics"])
    print(f"{'metric':34s}" + "".join(f"{w:>20s}" for w, _ in rows))
    for n in names:
        unit = rows[0][1]["metrics"][n]["unit"]
        print(f"{n + ' [' + unit + ']':34s}"
              + "".join(f"{r['metrics'][n]['value']:20.6g}" for _, r in rows))
    print(f"{'failed/attempted':34s}"
          + "".join(f"{str(r['failed']) + '/' + str(r['attempted']):>20s}" for _, r in rows))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
