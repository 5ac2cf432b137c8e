"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 7 --trace 0

After the session is set up and warmed (``setup_s``, timed from
process start), a single closed-loop client runs the workload's
operations one after another: one cold pass, unreported warm-up
passes, then steady passes
until ``--seconds`` have elapsed, each pass in an order drawn from
``--seed``. An untimed check then compares every operation with its
reference. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
alternates untraced and traced steady passes, prints the per-layer
metrics and writes one record per operation to
``.perfbench/trace-<workload>-seed<n>.jsonl``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
FIXTURES = HERE / "fixtures"
OUT = REPO / ".perfbench"

JVM_EXIT_TIMEOUT_S = 30

END_TO_END = {
    "setup_s": "s",
    "steady_pass_s": "s",
    "cold_pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

# Streaming layer metrics, from a stream drain's progress reports.
STREAMING_METRICS = (
    "streaming.add_batch_ms", "streaming.get_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.state_rows", "streaming.state_memory_bytes",
)
# Per-layer metrics summed over an operation's spans, jobs and plans.
OP_LAYER_METRICS = (
    "registry.builder_s", "registry.builder_self_s", "driver.gap_s",
    "sql.exec_s", "sql.jobs", "sql.stages", "sql.tasks",
    "io.input_bytes", "io.input_rows", "io.scan_time_ms", "io.scan_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.fetch_wait_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms", "executor.result_bytes",
    "udf.python_bytes_sent", "udf.python_bytes_received", "udf.python_rows",
    "broadcast.bytes", "broadcast.build_ms",
    "session_cache.fills", "session_cache.fill_s",
    "warehouse.output_bytes", "warehouse.write_ms",
    "mr.job_s", "mr.map_ms", "mr.reduce_ms", "mr.shuffle_records",
) + STREAMING_METRICS
# Layer metrics an operation reports itself (the rest come from Spark's
# status stores).
OP_EXTRAS = ("registry.builder_s", "registry.builder_self_s") + STREAMING_METRICS
# Reported from the cold pass: steady passes should leave them at 0.
COLD_LAYER_METRICS = (
    "session_cache.fills", "session_cache.fill_s",
    "warehouse.output_bytes", "warehouse.write_ms",
)
SPAN_NAMES = ("op", "registry.builder", "sql.action", "mr.job", "streaming.drain", "trace.read")
PER_LAYER = (
    tuple(OP_LAYER_METRICS)
    + tuple(f"self.{s}_s" for s in SPAN_NAMES)
    + ("process.peak_rss_mb", "trace.overhead_frac")
)


def layer_unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=None,
                    help="fixture directory under perfbench/fixtures (default: the workload's own)")
    return ap.parse_args(argv)


def fixture_stamp(sf_dir: Path) -> dict:
    files = sorted(sf_dir.glob("*.parquet"))
    return {
        "path": str(sf_dir.relative_to(REPO)),
        "bytes": sum(f.stat().st_size for f in files),
        "newest_mtime": max(f.stat().st_mtime for f in files),
        "sha256": hashlib.sha256(b"".join(f.read_bytes() for f in files)).hexdigest()[:16],
    }


def program_digest() -> str:
    h = hashlib.sha256()
    for f in sorted((REPO / "mapreducepy_spark").rglob("*.py")):
        h.update(f.relative_to(REPO).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        # the ceiling keeps git from searching above the checkout
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(REPO.parent)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def isolate(work: Path) -> dict[str, str]:
    """Point every directory Spark, its Python workers and the program
    write to at this run's own scratch root, and return the session
    settings that must be fixed before the JVM starts."""
    for d in ("local", "tmp", "warehouse", "fixtures"):
        (work / d).mkdir(parents=True, exist_ok=True)
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the sources keys write their CSV/JSONL twins of a fixture here
    os.environ["MAPREDUCEPY_SPARK_FIXTURE_DIR"] = str(work / "fixtures")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: time a
    hypervisor gave this machine's CPUs to someone else shows as steal."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Bench:
    def __init__(self, args, conf: dict[str, str], sf_dir: Path):
        self.conf = conf
        self.sf_dir = str(sf_dir)
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.op_seq = 0

    # -------------------------------------------------------------- setup
    def start_session(self):
        """A session warmed by one JVM job, one Python-worker job and one
        parquet scan."""
        from mapreducepy_spark.io import load
        from mapreducepy_spark.session import get_spark

        spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).write.format("noop").mode("overwrite").save()
        spark.sparkContext.parallelize(range(8), 4).map(lambda x: x + 1).count()
        load(spark, self.sf_dir, "nation").write.format("noop").mode("overwrite").save()
        return spark

    def shutdown(self) -> float:
        """Stop Spark and its JVM, wait for it, return peak RSS (MB) of
        this process plus the JVM."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        jvm_pid = gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None
        peak = vm_hwm_mb("self") + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        return peak

    # -------------------------------------------------------------- passes
    def run_op(self, op, ctx, reader, traced: bool, pass_label: str) -> dict:
        from mapreducepy_spark.session_cache import fill_log

        self.op_seq += 1
        op_id = f"perfbench-{self.op_seq}"
        sc = self.spark.sparkContext
        if traced:
            with ctx.tracer.span("trace.read", trace_id=op_id):
                reader.drain()
                reader.new_sql_metrics()
        sc.setJobGroup(op_id, op.name)
        n_fills = len(fill_log())
        t0 = time.perf_counter()
        error = None
        extras: dict = {}
        with ctx.tracer.span("op", trace_id=op_id, op=op.name):
            try:
                extras = op.run(ctx)
            except Exception:
                error = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        self.attempted += 1
        if error:
            self.failed += 1
            self.errors.append(f"{op.name}: {error}")
        rec = {"pass": pass_label, "op_id": op_id, "op": op.name, "kind": op.kind,
               "wall_s": wall, "error": error}
        if not traced:
            return rec
        with ctx.tracer.span("trace.read", trace_id=op_id):
            reader.drain()
            layers = reader.group_metrics(op_id, mr=op.kind == "mr")
            layers.update(reader.new_sql_metrics())
        fills = fill_log()[n_fills:]
        layers["session_cache.fills"] = float(len(fills))
        layers["session_cache.fill_s"] = float(sum(f["sec"] for f in fills))
        layers["driver.gap_s"] = wall - layers["sql.exec_s"]
        for key in OP_EXTRAS:
            layers[key] = extras.get(key, 0.0)
        layers["mr.job_s"] = wall if op.kind == "mr" else 0.0
        rec["layers"] = {k: layers.get(k, 0.0) for k in OP_LAYER_METRICS}
        return rec

    def run_pass(self, ops, ctx, reader, traced: bool, label: str) -> tuple[float, list[dict]]:
        ctx.tracer.enabled = traced
        order = self.rng.sample(ops, len(ops))
        records = []
        t0 = time.perf_counter()
        with ctx.tracer.span("pass", trace_id=label):
            for op in order:
                records.append(self.run_op(op, ctx, reader, traced, label))
        sec = time.perf_counter() - t0
        if traced:
            # reading the status stores is tracing cost, not pass time
            sec -= sum(
                s.end - s.start for s in ctx.tracer.spans
                if s.name == "trace.read" and s.start >= t0
            )
        ctx.tracer.enabled = False
        return sec, records

    def verify(self, ops, ctx) -> None:
        """Check every operation. The DuckDB references are computed on a
        second thread while Spark produces the actual results."""
        with ThreadPoolExecutor(1) as pool:
            cur = ctx.duck.cursor()
            refs = [pool.submit(op.reference, cur) for op in ops]
            for op, ref in zip(ops, refs):
                self.attempted += 1
                try:
                    got = op.actual(ctx)
                    problem = op.compare(got, ref.result())
                except Exception:
                    problem = traceback.format_exc(limit=3)
                if problem:
                    self.failed += 1
                    self.errors.append(f"verify {op.name}: {problem}")


def per_layer_metrics(cold: list[dict], traced_passes: list[list[dict]], spans,
                      traced_s: list[float], untraced_s: list[float], peak_rss: float) -> dict:
    from perfbench.stats import median, self_time_by_layer

    def total(records, key):
        return sum(r["layers"][key] for r in records)

    out = {}
    for key in OP_LAYER_METRICS:
        if key in COLD_LAYER_METRICS:
            out[key] = total(cold, key)
        else:
            out[key] = median([total(p, key) for p in traced_passes])
    # self time per layer, median over the traced steady passes
    per_pass = []
    for p in traced_passes:
        ids = {r["op_id"] for r in p} | {p[0]["pass"]}
        per_pass.append(self_time_by_layer([s for s in spans if s.trace_id in ids]))
    for name in SPAN_NAMES:
        out[f"self.{name}_s"] = median([pp.get(name, 0.0) for pp in per_pass])
    out["process.peak_rss_mb"] = peak_rss
    out["trace.overhead_frac"] = median(traced_s) / median(untraced_s) - 1
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / "mapreducepy_spark" / "__init__.py").is_file():
        print(f"perfbench: program package mapreducepy_spark not found under {REPO}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from perfbench import workloads as wl
    from perfbench.sparkstats import StatusReader
    from perfbench.stats import METRIC_NAME, Tracer, median, tail_value

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of "
              f"{', '.join(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    sf_dir = FIXTURES / (args.scale or wl.SCALE[args.workload])
    stream_sf_dir = FIXTURES / (args.scale or wl.STREAM_SCALE)
    for d in (sf_dir, stream_sf_dir):
        if not d.is_dir():
            print(f"perfbench: fixture directory {d} not found", file=sys.stderr)
            return 2

    load_before = os.getloadavg()
    steal_before = cpu_ticks()
    work = OUT / "runs" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)
    bench = Bench(args, conf, sf_dir)
    try:
        bench.spark = bench.start_session()
        setup_s = time.perf_counter() - T_PROCESS
        tracer = Tracer(False)
        ctx = wl.Ctx(bench.spark, bench.sf_dir, wl.open_duck(bench.sf_dir), tracer,
                     work=str(work), stream_sf_dir=str(stream_sf_dir))
        wl.stage_backlog(ctx.stream_sf_dir, ctx.work)
        ops = wl.build_ops(args.workload, ctx)
        reader = StatusReader(bench.spark) if args.trace else None

        cold_s, cold = bench.run_pass(ops, ctx, reader, bool(args.trace), "cold")
        for i in range(wl.WARMUP_PASSES[args.workload]):
            bench.run_pass(ops, ctx, reader, False, f"warmup-{i}")
        steady_s, steady, traced_s, traced = [], [], [], []
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or not steady or (args.trace and not traced):
            trace_this = bool(args.trace) and len(steady) > len(traced)
            label = f"steady-{len(steady) + len(traced)}"
            sec, recs = bench.run_pass(ops, ctx, reader, trace_this, label)
            if trace_this:
                traced_s.append(sec)
                traced.append(recs)
            else:
                steady_s.append(sec)
                steady.append(recs)
        t_verify = time.perf_counter()
        bench.verify(ops, ctx)
        t_verify = time.perf_counter() - t_verify
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": bench.spark.version,
            "java": bench.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_commit": git_commit(), "program_sha256": program_digest(),
            "fixture": fixture_stamp(sf_dir), "stream_fixture": fixture_stamp(stream_sf_dir),
            "passes": {"cold": 1, "warmup": wl.WARMUP_PASSES[args.workload], "steady": len(steady),
                       "traced": len(traced)},
            "pass_s": {"steady": steady_s, "traced": traced_s},
            "op_s": {op.name: median([r["wall_s"] for p in steady for r in p if r["op"] == op.name])
                     for op in ops},
            "phase_s": {"setup": setup_s, "verify": t_verify},
        }
        ctx.duck.close()
    finally:
        t_down = time.perf_counter()
        peak_rss = bench.shutdown()
        t_down = time.perf_counter() - t_down
        shutil.rmtree(work, ignore_errors=True)
    env["phase_s"]["shutdown"] = t_down
    env["phase_s"]["total"] = time.perf_counter() - T_PROCESS
    env["loadavg_before"] = load_before
    env["loadavg_after"] = os.getloadavg()
    steal, total = (a - b for a, b in zip(cpu_ticks(), steal_before))
    env["cpu_steal_frac"] = steal / total if total else 0.0

    samples = [r["wall_s"] for p in steady for r in p if not r["error"]]
    if args.trace:
        metrics = per_layer_metrics(
            cold, traced, tracer.spans, traced_s, steady_s, peak_rss
        )
        units = {k: layer_unit(k) for k in metrics}
        OUT.mkdir(exist_ok=True)
        trace_path = OUT / f"trace-{args.workload}-seed{args.seed}.jsonl"
        with open(trace_path, "w") as fh:
            for rec in cold + [r for p in traced for r in p]:
                fh.write(json.dumps(rec) + "\n")
            for s in tracer.spans:
                fh.write(json.dumps({"span": s.name, "id": s.span_id, "trace_id": s.trace_id,
                                     "parent": s.parent, "start": s.start, "end": s.end,
                                     "attrs": s.attrs}) + "\n")
        env["trace_file"] = str(trace_path.relative_to(REPO))
    else:
        tail, pct, n = tail_value(samples)
        metrics = {
            "setup_s": setup_s,
            "steady_pass_s": median(steady_s),
            "cold_pass_s": cold_s,
            "op_p50_s": median(samples),
            "op_tail_s": tail,
        }
        units = END_TO_END
        env["op_tail"] = {"percentile": pct, "samples": n}
        print(f"op_tail_s = {tail:.4f} s at p{pct} of {n} steady operation samples")
    for name in metrics:
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
    for err in bench.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
