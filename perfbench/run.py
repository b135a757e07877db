"""Benchmark of the spark-graft engine: seeded inputs, closed-loop
passes over one workload, correctness checks, and one JSON result line.

    python3 perfbench/run.py --workload lulc_chain --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` makes the traced run and prints the per-layer
metrics. Every input is generated from ``--seed`` into a work
directory under the root, which is deleted when the run ends. See
``perfbench/DESIGN.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tb_scale_spatial_data_pipeline_spark"

# checks and gen (numpy, pandas, pyarrow) are imported after set-up,
# so setup_s holds only what a user of the package pays
import workloads as W  # noqa: E402
from spans import (  # noqa: E402
    NullTracer,
    Tracer,
    make_progress_listener,
    median_metrics,
    parse_event_log,
    pass_layer_metrics,
)

# Input sizes. Scenes: 64 x 64 px (4 tiles of 32 px), 3 scenes.
# Tables: sf0.1 row counts x 0.01 (lineitem 6,000 rows).
SCENE_SIZE = 64
N_SCENES = 3
TABLE_SCALE = 0.01
WORKLOADS = ("lulc_chain", "query_mix")
# Untimed warm passes between the cold pass and the measured ones. The
# query workload's JIT warm-up lasts past its first warm pass (its
# graph query then runs 10-40 % slower than in the next); the chain's
# first warm pass is within 15 % of the second, and the time budget
# has no room for another chain pass.
SETTLE_PASSES = {"lulc_chain": 0, "query_mix": 1}
# Executor threads of the local session. Half the reference machine's 4
# vCPUs: the Python client, the JVM's driver, JIT and GC threads need
# the rest. At local[4] the host's CPU steal stretched the runs far more
# (interleaved runs on the same seeds: query_mix call_tail_s 2.9-4.7 s
# at local[4], 2.8-3.4 s at local[2]); on a quiet host both read the same.
CPUS = 2

END_TO_END = ("setup_s", "cold_wall_s", "wall_s", "call_p50_s", "call_tail_s")
# name -> unit; every one is "lower is better"
PER_LAYER = {
    "session.start_s": "s",
    "session.registry_import_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "sources.read_s": "s",
    "sources.read_rows": "count",
    "sources.write_bytes": "bytes",
    "functions.build_s": "s",
    "operators.build_s": "s",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "ml.build_s": "s",
    "ml.action_s": "s",
    "ml.jobs": "count",
    "ml.tasks": "count",
    "raster.build_s": "s",
    "raster.action_s": "s",
    "raster.jobs": "count",
    "raster.tasks": "count",
    "raster.python_worker_s": "s",
    "raster.shuffle_bytes": "bytes",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.outside_job_s": "s",
    "plans.action_s": "s",
    "plans.jobs": "count",
    "plans.tasks": "count",
    "plans.shuffle_bytes": "bytes",
    "plans.broadcast_rows": "count",
    "plans.executor_cpu_s": "s",
    "streaming.build_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "trace.overhead_s": "s",
}


def call_tail(warm: list[list[float]]) -> tuple[float, str]:
    """Tail of the call walls of the warm passes ``warm``: the highest
    percentile with at least 10 samples beyond it. Below 20 samples
    that percentile would lie under the median, so the median over the
    passes of each pass's slowest call is reported instead (the
    slowest of all calls follows whichever pass a host stall hit).
    Returns (value, what it is)."""
    v = sorted(w for walls in warm for w in walls)
    n = len(v)
    if n < 20:
        return statistics.median(max(walls) for walls in warm), (
            f"median of {len(warm)} passes' slowest call"
        )
    k = n - 11
    return v[k], f"p{100.0 * (k + 1) / n:.1f} with {n - 1 - k} samples beyond it"


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Settings that keep every file the session writes in ``work``."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    """Import the package, start its session and build the query
    registry. Returns (spark, timings) with the import, session start
    and registry times in seconds."""
    t0 = time.perf_counter()
    from tb_scale_spatial_data_pipeline_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    t2 = time.perf_counter()
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    queries = all_queries()
    t3 = time.perf_counter()
    return spark, {
        "import_s": t1 - t0,
        "start_s": t2 - t1,
        "registry_import_s": t3 - t2,
        "queries": queries,
    }


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the session's JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, if one was made, then end the JVM, if one was
    launched, and wait until it has exited (the JVM exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:  # end the JVM even when the session could not stop cleanly
        try:
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=timeout)
            SparkContext._gateway = None
            SparkContext._jvm = None


class TermGuard:
    """SIGTERM ends the run through its clean-up (``SystemExit(143)``), once:
    a second signal does not cut the clean-up short. Inside
    ``deferred()`` the signal waits until the block is done, so that
    the session is never left half started or half stopped; a JVM that
    was being launched when the run ended would outlive it."""

    def __init__(self):
        self.defer = False
        self.pending = False
        signal.signal(signal.SIGTERM, self._on_term)

    def _on_term(self, *_):
        if self.defer:
            self.pending = True
            return
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    @contextlib.contextmanager
    def deferred(self):
        self.defer = True
        try:
            yield
        finally:
            self.defer = False
        if self.pending:
            self._on_term()


class Run:
    """State of one benchmark run."""

    def __init__(self, args, work: str, spark, truth, data_dir: str, queries: dict, oracles: dict):
        self.args = args
        self.work = work
        self.spark = spark
        self.truth = truth  # lulc_chain ground truth
        self.data_dir = data_dir
        self.queries = queries
        self.oracles = oracles
        self.passes: list[list[W.Call]] = []
        self.kinds: list[str] = []  # per pass: cold | settle | warm | traced
        self.notes: list[str] = []
        self.kept: dict[str, object] = {}  # last pass's query results

    def run_pass(self, idx: int, kind: str, tracer) -> None:
        tracer.pass_idx = idx
        tracer.enabled = kind == "traced"
        calls = []
        if self.args.workload == "lulc_chain":
            pass_dir = os.path.join(self.work, "passes", f"p{idx}")
            inputs, outputs = W.lulc_stage_inputs(self.truth.paths, pass_dir)
            for (name, fn, _), src, dst in zip(W.LULC_STAGES, inputs, outputs):
                calls.append(self._timed(name, lambda: fn(self.spark, src, dst, tracer)))
        else:
            self.kept = {}
            for name in W.QUERY_MIX:

                def one(name=name):
                    self.kept[name] = W.run_query(
                        self.spark, self.queries, name, self.data_dir, tracer
                    )

                calls.append(self._timed(name, one))
        tracer.enabled = False
        self.passes.append(calls)
        self.kinds.append(kind)
        stage_cache = os.path.join(tempfile.gettempdir(), "tb_stage_cache")
        if os.path.exists(stage_cache):  # a query memoised a stage product
            self.notes.append(f"pass {idx}: cleared stage cache {stage_cache}")
            shutil.rmtree(stage_cache)

    def _timed(self, name: str, fn) -> W.Call:
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # the call failed; the workload goes on
            wall = time.perf_counter() - t0
            return W.Call(name, wall, False, f"{type(e).__name__}: {str(e)[:300]}")
        return W.Call(name, time.perf_counter() - t0, True)

    def check(self) -> None:
        """Check outputs outside the timed region; mark failing calls."""
        import checks

        if self.args.workload == "lulc_chain":
            for idx, calls in enumerate(self.passes):
                pass_dir = os.path.join(self.work, "passes", f"p{idx}")
                self._check_lulc_pass(pass_dir, calls)
            return
        con = checks.duckdb_views(self.data_dir)
        for call in self.passes[-1]:
            if not call.ok:
                continue
            try:
                pdf = self.kept[call.name].toPandas()
                problems = checks.check_query(call.name, pdf, con, self.oracles)
            except Exception as e:
                problems = [f"{type(e).__name__}: {str(e)[:300]}"]
            if problems:
                call.ok, call.error = False, "; ".join(problems)
        con.close()

    def _check_lulc_pass(self, pass_dir: str, calls: list[W.Call]) -> None:
        import checks

        def read(product: str, cols: list[str]):
            return self.spark.read.parquet(os.path.join(pass_dir, product)).select(*cols).toPandas()

        segs = {}

        def problems(stage: str) -> list[str]:
            if stage == "E1_stack":
                return checks.check_stack(read("e1_stack", ["x", "y", "median_ndvi"]), self.truth)
            if stage == "E2_pixels":
                return checks.check_pixels(read("e2_pixels", ["x", "y", "final_label"]), self.truth)
            if "e3" not in segs:
                segs["e3"] = read("e3_segments", ["seg_id", "geometry", "area"])
            if stage == "E3_segments":
                return checks.check_segments(segs["e3"], self.truth)
            return checks.check_objects(read("e4_objects", ["seg_id", "PredClass"]), segs["e3"])

        for call in calls:
            if not call.ok:
                continue
            try:
                found = problems(call.name)
            except Exception as e:
                found = [f"{type(e).__name__}: {str(e)[:300]}"]
            if found:
                call.ok, call.error = False, "; ".join(found)


def generate(args, work: str) -> tuple[object, str, dict]:
    """Write the workload's inputs; returns (truth, data dir, sizes)."""
    import gen

    data_dir = os.path.join(work, "inputs")
    if args.workload == "lulc_chain":
        truth = gen.write_scenes(os.path.join(data_dir, "scenes"), args.seed, SCENE_SIZE, N_SCENES)
        return truth, data_dir, {"px": SCENE_SIZE * SCENE_SIZE, "scenes": N_SCENES, "regions": len(truth.regions)}
    rows = gen.write_tables(data_dir, args.seed, TABLE_SCALE)
    return None, data_dir, rows


def measure(args, run: Run, tracer) -> None:
    """The cold pass, the workload's settle passes (untimed), then warm
    passes until ``--seconds`` of them have been measured, at least
    two. The traced run instead makes one settle pass (so JIT warm-up
    does not load the comparison), then a traced and an untraced warm
    pass."""
    run.run_pass(0, "cold", tracer)
    if args.trace:
        plan = ["settle", "traced", "warm"]
    else:
        plan = ["settle"] * SETTLE_PASSES[args.workload] + ["warm", "warm"]
    idx, warm_s = 1, 0.0
    while plan or warm_s < args.seconds:
        kind = plan.pop(0) if plan else "warm"
        t0 = time.perf_counter()
        run.run_pass(idx, kind, tracer)
        if kind == "warm":
            warm_s += time.perf_counter() - t0
        idx += 1


def end_to_end(passes: list[list[W.Call]], kinds: list[str], setup_s: float) -> tuple[dict, list[str]]:
    warm = [calls for calls, kind in zip(passes, kinds) if kind == "warm"]
    walls = [c.wall_s for calls in warm for c in calls]
    tail, tail_is = call_tail([[c.wall_s for c in calls] for calls in warm])
    m = {
        "setup_s": setup_s,
        "cold_wall_s": sum(c.wall_s for c in passes[0]),
        "wall_s": statistics.median(sum(c.wall_s for c in calls) for calls in warm),
        "call_p50_s": statistics.median(walls),
        "call_tail_s": tail,
    }
    info = [
        f"warm passes: {len(warm)}, calls: {len(walls)}; call_tail_s is the {tail_is}",
    ]
    return m, info


def per_layer(run: Run, tracer, records: list, session_t: dict, rss_mb: float) -> dict:
    log_dir = os.path.join(run.work, "eventlog")
    logs = os.listdir(log_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {len(logs)}")
    log = parse_event_log(os.path.join(log_dir, logs[0]))
    traced_idx = [i for i, kind in enumerate(run.kinds) if kind == "traced"]
    per_pass = [
        pass_layer_metrics([s for s in tracer.spans if s.pass_idx == i], log, records)
        for i in traced_idx
    ]
    names = [n for n in PER_LAYER if not n.startswith(("session.", "trace."))]
    m = median_metrics(per_pass, names)
    walls = [sum(c.wall_s for c in calls) for calls in run.passes]
    untraced = [w for w, kind in zip(walls, run.kinds) if kind == "warm"]
    m["session.start_s"] = session_t["start_s"]
    m["session.registry_import_s"] = session_t["registry_import_s"]
    m["session.jvm_peak_rss_mb"] = rss_mb
    m["trace.overhead_s"] = statistics.median(walls[i] for i in traced_idx) - statistics.median(untraced)
    return {n: m[n] for n in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its processes and deletes its inputs
    term = TermGuard()

    missing = [p for p in (PACKAGE, "scripts/check_parity.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program under test not found: {', '.join(missing)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    spark = None
    try:
        conf = spark_conf(work, bool(args.trace))
        with term.deferred():
            spark, session_t = start_session(conf)
        setup_s = time.perf_counter() - T_START

        t0 = time.perf_counter()
        truth, data_dir, sizes = generate(args, work)
        gen_s = time.perf_counter() - t0

        from tb_scale_spatial_data_pipeline_spark.plans import all_oracles

        run = Run(args, work, spark, truth, data_dir, session_t["queries"], all_oracles())
        records: list = []  # streaming progress, traced run only
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            spark.streams.addListener(make_progress_listener(records))
        else:
            tracer = NullTracer()

        measure(args, run, tracer)
        rss_mb = jvm_peak_rss_mb(spark)
        run.check()
        with term.deferred():
            stop_session(spark)
            spark = None

        calls = [c for p in run.passes for c in p]
        failed = [c for c in calls if not c.ok]
        lines = [
            f"workload {args.workload} seed {args.seed}: inputs {json.dumps(sizes)}, "
            f"generated in {gen_s:.3f} s (not part of setup_s)",
            *run.notes,
        ]
        if args.trace:
            metrics = per_layer(run, tracer, records, session_t, rss_mb)
            units = PER_LAYER
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            spans_path = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.dump(spans_path)
            lines.append(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        else:
            metrics, info = end_to_end(run.passes, run.kinds, setup_s)
            units = dict.fromkeys(END_TO_END, "s")
            lines += info
        for i, (calls_i, kind) in enumerate(zip(run.passes, run.kinds)):
            walls = " ".join(f"{c.name}={c.wall_s:.3f}" for c in calls_i)
            lines.append(f"pass {i} {kind} {sum(c.wall_s for c in calls_i):.3f} s: {walls}")
        lines.append(f"calls attempted {len(calls)}, failed {len(failed)}, error_rate {len(failed) / len(calls):.4f}")
        lines += [f"FAILED {c.name}: {c.error}" for c in failed]
        for name, v in metrics.items():
            lines.append(f"{name} = {v} {units[name]}")
        print("\n".join(lines))
        print(
            json.dumps(
                {
                    "correct": not failed,
                    "attempted": len(calls),
                    "failed": len(failed),
                    "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
                }
            )
        )
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if "pyspark" in sys.modules:  # a session, or a JVM launched for one
                with term.deferred():
                    stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    raise SystemExit(main())
