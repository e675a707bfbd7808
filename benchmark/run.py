"""Repository benchmark: one workload per process, cold JVM, closed loop.

    python3 benchmark/run.py --workload sf01_headline --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload all --seed 1 --seconds 10 --trace 0

Load shape: one client in one Python process sends the next request only
after the previous one returned (closed loop); Spark runs ``local[N]``
with N = the process's usable cores (``SPARK_GRAFT_CPUS``), sessions come
from ``session.build_spark`` and each workload sets only the confs listed
in ``workloads.py``.

Each run generates its inputs from ``--seed`` into a scratch directory
inside the checkout (removed at exit), sets up, measures for
``--seconds``, checks every op's output against DuckDB, and prints as the
last stdout line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics from an uninstrumented
loop; ``--trace 1`` reports the per-layer metrics from a traced loop
(see ``probes.py``). The exit code is non-zero when an op fails or an
output mismatches. ``--workload all`` runs every workload in its own
process and prints one summary line per workload.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import fixtures  # noqa: E402
import probes  # noqa: E402
from workloads import TABLES, WORKLOADS, Oracle, make_ops  # noqa: E402

PKG = "etl_intraday_bidask_spark"

# Set-ups per run; setup_s is their median. A set-up is a fresh import of
# the engine with its operator registry, session.build_spark() plus the
# workload's confs, and tables.load over the ten tables. The first one
# also launches the JVM.
N_SETUPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_ms_geomean": "ms",
}

# Per-layer metrics every workload exercises. Layers only one workload
# runs (the star pipeline, its sink, the streaming state store, the
# per-query split of the headline queries) would read a constant 0 on
# the other, so they are reported on the traced run's context line
# under "workload_layers" instead.
LAYER_UNITS = {
    "registry.load_s": "s",
    "session.build_s": "s",
    "tables.load_ms.cold": "ms",
    "tables.load_ms.warm": "ms",
    "operators.construct_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "dispatch.floor_ms": "ms",
    "dispatch.jobs": "count",
    "dispatch.stages": "count",
    "dispatch.tasks": "count",
    "dispatch.tasks_failed": "count",
    "execution.ms": "ms",
    "execution.executor_run_ms": "ms",
    "execution.input_bytes": "bytes",
    "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "jvm.peak_rss_mb": "MB",
    "transfer.result_rows": "rows",
    "trace_overhead": "ratio",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One workload run in this process."""

    def __init__(self, workload, seed: int, seconds: float, traced: bool,
                 scratch: str, sf: float | None = None):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.scratch = scratch
        self.sf = workload.sf if sf is None else sf
        self.fixture_dir = os.path.join(scratch, "fixtures")
        self.rng = random.Random(seed)
        self.layers: dict[str, float] = {}
        self.context: dict = {"workload": workload.name, "seed": seed}
        self.spark = None
        self.oracle = None

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        rows = fixtures.write_fixtures(
            self.fixture_dir, self.sf, self.seed, self.w.row_group_rows
        )
        self.context["fixture_gen_s"] = round(time.perf_counter() - t0, 3)
        self.context["fixture_rows"] = rows
        self.context["window"] = self.host_window()

        setups, imports, builds = [], [], []
        for _ in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.import_engine()
            t1 = time.perf_counter()
            self.build_session()
            t2 = time.perf_counter()
            self.time_table_loads()
            setups.append(time.perf_counter() - t0)
            imports.append(t1 - t0)
            builds.append(t2 - t1)
        self.setup_s = statistics.median(setups)
        self.layers["registry.load_s"] = statistics.median(imports)
        self.layers["session.build_s"] = statistics.median(builds)
        self.context["setups_s"] = [round(s, 3) for s in setups]

        self.ops = make_ops(
            self.w, self.spark, self.registry, self.fixture_dir, self.scratch
        )
        # JIT, codegen and page-cache warm-up before the single-client
        # loop: every op once from as many client threads as cores (the
        # cold JVM's compile work overlaps), then once more from this
        # thread, the one the measured loop runs on.
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=cpus()) as pool:
            for f in [pool.submit(op.run) for op in self.ops]:
                f.result()
        for op in self.ops:
            op.run()
        self.context["warmup_s"] = round(time.perf_counter() - t0, 3)
        self.jvm_pid = probes.jvm_pid(self.spark)
        self.oracle = Oracle(self.fixture_dir)

    def import_engine(self) -> None:
        """A fresh import of the engine package and its operator
        registry (earlier imports are dropped from ``sys.modules``)."""
        for m in [m for m in sys.modules if m.split(".")[0] == PKG]:
            del sys.modules[m]
        registry = importlib.import_module(f"{PKG}.registry")
        self.registry = registry.load_all_operators()

    def build_session(self) -> None:
        from etl_intraday_bidask_spark.session import build_spark

        self.spark = build_spark(
            app_name=f"bench-{self.w.name}",
            shuffle_partitions=self.w.shuffle_partitions(cpus()),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        for k, v in self.w.confs.items():
            self.spark.conf.set(k, v)

    def time_table_loads(self) -> None:
        """``tables.load`` over the ten tables on the fresh session's
        empty memo, then again on memo hits."""
        from etl_intraday_bidask_spark.tables import load

        for key in ("tables.load_ms.cold", "tables.load_ms.warm"):
            t0 = time.perf_counter()
            for t in TABLES:
                load(self.spark, self.fixture_dir, t)
            self.layers[key] = (time.perf_counter() - t0) * 1000

    def host_window(self) -> dict:
        """Host-speed labels beside the run (not metrics, not gates)."""
        from tools import host_probe

        old = host_probe.SF_DIR
        host_probe.SF_DIR = self.fixture_dir
        try:
            return {
                "py_loop_ms": round(host_probe.py_loop_ms(), 1),
                "duck_scan_ms": round(host_probe.duck_scan_ms(), 1),
            }
        finally:
            host_probe.SF_DIR = old

    # -- measurement -----------------------------------------------------

    def measure(self) -> dict:
        """Closed loop over whole seed-permuted passes until ``seconds``
        have elapsed, at least one pass. Returns per-op samples (s) of
        the untraced runs of each op.

        In a traced run every op of a pass runs untraced and then traced,
        so that ``trace_overhead`` compares the two in the same state of
        the JVM."""
        samples = {op.name: [] for op in self.ops}
        self.first_out = {}
        self.failed = []
        self.passes = []
        self.pass_walls = []
        self.attempted = 0
        deadline = time.perf_counter() + self.seconds
        while not self.passes or time.perf_counter() < deadline:
            order = self.ops[:]
            self.rng.shuffle(order)
            layer = self.new_layer_totals() if self.traced else None
            t_pass = time.perf_counter()
            for op in order:
                for traced in (False, True)[: 1 + self.traced]:
                    self.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        out = self.traced_op(op, layer) if traced else op.run()
                    except Exception as exc:  # a raising op is a failure
                        self.failed.append(
                            f"{op.name}: {type(exc).__name__}: {exc}"
                        )
                        continue
                    dt = time.perf_counter() - t0
                    if traced:
                        layer["traced_s"] += dt
                    else:
                        samples[op.name].append(dt)
                        self.first_out.setdefault(op.name, out)
                        if layer is not None:
                            layer["untraced_s"] += dt
            self.passes.append(layer)
            self.pass_walls.append(time.perf_counter() - t_pass)
        return samples

    # -- traced op -------------------------------------------------------

    def new_layer_totals(self) -> dict:
        return {"sum": defaultdict(float), "span_ms": {},
                "traced_s": 0.0, "untraced_s": 0.0}

    def traced_op(self, op, layer):
        spark, tot = self.spark, layer["sum"]
        status = self.status
        job0 = status.newest_job()
        gc0 = probes.gc_totals(spark)
        if op.frame is not None:  # headline query: construct -> plan -> run
            t0 = time.perf_counter()
            df = op.frame()
            t1 = time.perf_counter()
            phases = probes.catalyst_phases(df)
            t2 = time.perf_counter()
            out = df.toPandas()
            t3 = time.perf_counter()
            layer["span_ms"][op.name] = (t3 - t0) * 1000
            # Spark analyses eagerly inside spark_fn: construct is the
            # call's self time, analysis counted once, under catalyst.
            construct = (t1 - t0) * 1000 - phases["analysis"]
            catalyst = sum(phases.values())
            execution = (t3 - t2) * 1000
            tot["operators.construct_ms"] += construct
            for p, ms in phases.items():
                tot[f"catalyst.{p}_ms"] += ms
            tot["execution.ms"] += execution
            tot[f"q.{op.name}.construct_ms"] += construct
            tot[f"q.{op.name}.catalyst_ms"] += catalyst
            tot[f"q.{op.name}.execution_ms"] += execution
        else:
            out = self.traced_ingest_op(op, tot)
        counts = status.since(job0)
        gc1 = probes.gc_totals(spark)
        tot["jvm.gc_ms"] += gc1[0] - gc0[0]
        tot["jvm.gc_count"] += gc1[1] - gc0[1]
        tot["transfer.result_rows"] += len(out)
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            tot[f"dispatch.{k}"] += counts[k]
        for k in ("executor_run_ms", "input_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            tot[f"execution.{k}"] += counts[k]
        if op.frame is not None:
            tot[f"q.{op.name}.jobs"] += counts["jobs"]
        return out

    def traced_ingest_op(self, op, tot):
        from etl_intraday_bidask_spark.plans.pipeline import build_star_pipeline

        spark = self.spark
        if op.name != "star_etl":
            self.listener.reset()
            t0 = time.perf_counter()
            out = op.run()
            tot["execution.ms"] += (time.perf_counter() - t0) * 1000
            self.status.settle()
            for k, v in self.listener.totals().items():
                tot[f"streaming.{k}"] += v
            return out
        out_dir = tempfile.mkdtemp(prefix="mart_", dir=self.scratch)
        t0 = time.perf_counter()
        pipe = build_star_pipeline(self.fixture_dir, out_dir)
        t1 = time.perf_counter()
        ctx = pipe.run(spark)
        t2 = time.perf_counter()
        serve = ctx["serve"]
        phases = probes.catalyst_phases(serve)
        t3 = time.perf_counter()
        out = serve.toPandas()
        t4 = time.perf_counter()
        written, files = probes.dir_size(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        tot["operators.construct_ms"] += (t1 - t0) * 1000
        for p, ms in phases.items():
            tot[f"catalyst.{p}_ms"] += ms
        tot["execution.ms"] += (t2 - t1) * 1000 + (t4 - t3) * 1000
        tot["pipeline.run_s"] += t2 - t1
        tot["pipeline.serve_ms"] += (t4 - t2) * 1000
        tot["sink.bytes_written"] += written
        tot["sink.files_written"] += files
        # Base: the parquet files the pipeline extracts. Spark's stage
        # inputBytes under-reads local parquet scans, so it is not used.
        read = sum(
            os.path.getsize(os.path.join(self.fixture_dir, f"{t}.parquet"))
            for t in ("orders", "lineitem", "customer", "nation", "region")
        )
        tot["sink.bytes_per_input_byte"] += written / read
        return out

    # -- checks and report -----------------------------------------------

    def check(self) -> None:
        """Every op's first measured output against the DuckDB oracle."""
        for op in self.ops:
            out = self.first_out.get(op.name)
            if out is None:
                continue
            if not self.oracle.matches(op, out):
                self.failed.append(f"{op.name}: output differs from oracle")

    def run(self) -> dict:
        self.setup()
        if self.traced:
            self.status = probes.StatusStore(self.spark)
            self.listener = probes.ProgressListener()
            self.spark.streams.addListener(self.listener)
            self.layers["dispatch.floor_ms"] = probes.dispatch_floor_ms(self.spark)
        samples = self.measure()
        self.check()
        self.context["window"]["warmed_floor_ms"] = round(
            self.layers.get("dispatch.floor_ms")
            or probes.dispatch_floor_ms(self.spark), 1
        )
        all_ms = [s * 1000 for xs in samples.values() for s in xs]
        if self.traced:
            metrics = self.layer_metrics()
        else:
            metrics = {
                "setup_s": self.setup_s,
                "pass_s": sum(
                    statistics.median(xs) for xs in samples.values() if xs
                ),
                "op_ms_geomean": statistics.geometric_mean(
                    statistics.median(xs) * 1000 for xs in samples.values() if xs
                ),
            }
        self.context["samples"] = {
            "ops": len(all_ms),
            "per_op": {k: len(v) for k, v in samples.items()},
            "passes": len(self.passes),
        }
        self.context["pass_walls_s"] = [round(w, 3) for w in self.pass_walls]
        self.context["op_ms_pooled_p50"] = round(statistics.median(all_ms), 1)
        self.context["op_ms_median"] = {
            k: round(statistics.median(v) * 1000, 1)
            for k, v in samples.items() if v
        }
        units = LAYER_UNITS if self.traced else E2E_UNITS
        # Samples behind each reported value: set-up medians over the
        # set-ups, the floor over its probe jobs, per-layer totals over
        # the traced passes, end-to-end timings over the measured ops.
        self.sample_counts = {
            k: (N_SETUPS if k in ("setup_s", "registry.load_s",
                                  "session.build_s")
                else probes.FLOOR_JOBS if k == "dispatch.floor_ms"
                else 1 if k.startswith(("tables.", "jvm.peak"))
                else len(self.passes) if self.traced else len(all_ms))
            for k in units
        }
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {
                k: {"value": metrics[k], "unit": units[k]} for k in units
            },
        }

    def layer_metrics(self) -> dict:
        """Per-layer pass totals, median over the traced passes; the
        workload-specific ones go to the context line."""
        med = {
            k: statistics.median(p["sum"][k] for p in self.passes)
            for k in self.passes[0]["sum"]
        }
        out = {k: self.layers.get(k, med.get(k, 0.0)) for k in LAYER_UNITS}
        out["jvm.peak_rss_mb"] = probes.peak_rss_mb(self.jvm_pid)
        out["trace_overhead"] = statistics.median(
            p["traced_s"] / p["untraced_s"] for p in self.passes
        )
        self.context["workload_layers"] = {
            k: v for k, v in sorted(med.items()) if k not in LAYER_UNITS
        }
        # Share of each headline query's traced span (spark_fn call to
        # materialised frame) that its layer split accounts for.
        shares = {}
        for p in self.passes:
            for q, ms in p["span_ms"].items():
                split = sum(p["sum"][f"q.{q}.{k}_ms"]
                            for k in ("construct", "catalyst", "execution"))
                shares.setdefault(q, []).append(split / ms)
        self.context["split_share_of_wall"] = {
            q: round(statistics.median(v), 3) for q, v in shares.items()
        }
        return out

    def close(self) -> None:
        """Stop the session, then the JVM PySpark launched, and wait for
        it to exit (it exits when its stdin closes)."""
        if self.oracle is not None:
            self.oracle.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def isolate(scratch: str) -> None:
    """Point every temp/scratch location of Python, Spark and the JVMs
    into ``scratch`` so the run writes nothing outside the checkout, and
    size ``local[N]`` to the usable cores."""
    tempfile.tempdir = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={scratch} -XX:-UsePerfData" '
        "pyspark-shell"
    )
    os.chdir(scratch)  # spark-warehouse and other cwd-relative output


def run_one(args) -> int:
    workload = WORKLOADS[args.workload]
    importlib.import_module(PKG)  # fail fast outside a full checkout
    base = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{workload.name}-", dir=base)
    run = None
    try:
        isolate(scratch)
        run = Run(workload, args.seed, args.seconds, bool(args.trace),
                  scratch, sf=args.sf)
        result = run.run()
        print("# context " + json.dumps(run.context, default=str))
        for f in run.failed:
            print(f"# FAILED {f}")
        for name, m in result["metrics"].items():
            print(f"# {name} = {m['value']:.6g} {m['unit']} "
                  f"(n={run.sample_counts[name]})")
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if run is not None:
            run.close()
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def run_all(args) -> int:
    """Each workload in its own process (cold JVM); a summary table."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        rc = rc or proc.returncode
        if proc.returncode or not lines:
            print(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        ratio = res["failed"] / res["attempted"]
        print(f"{name}: failed_ratio={ratio:g} "
              f"({res['failed']}/{res['attempted']})")
        for k in res["metrics"]:
            print(next(x for x in lines if x.startswith(f"# {k} = ")))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
