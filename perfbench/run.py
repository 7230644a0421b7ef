"""Benchmark of the SAP-lake engine: one workload per run.

    python3 perfbench/run.py --workload sap_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; the engine is imported from there, not
installed.  Set-up derives the workload's inputs from ``--seed`` under
``.perfbench/`` and runs WARMUP_PASSES passes; then passes are measured for
``--seconds`` (see ``Runner``), and every operation's output is checked
against an independent answer.  Progress goes to stderr; the last line of
stdout is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see metrics.py).  ``--smoke`` shrinks every input to a few thousand
rows.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "guidance_for_sap_data_integration_and_management_on_aws_spark"
# the engine's streaming ops keep replays and checkpoints here
ENGINE_SCRATCH = ROOT / ".scratch"
WARMUP_PASSES = 2  # set-up passes, before the first measured one
# per --trace value: a traced run measures an untraced pass, then a traced one
MIN_MEASURED = {0: 1, 1: 2}

# (sf of the TPC-H-shaped tables, sf of events/embeddings/documents,
#  SAP table rows, RFC page rows)
SIZES = {"full": (0.05, 0.004, 240_000, 20_000), "smoke": (0.002, 0.001, 3_000, 1_000)}


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - PROCESS_T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("sap_ingest", "lake_analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for a quick end-to-end check")
    return p.parse_args(argv)


def configure_environment(work: Path) -> None:
    """Settings inherited by the driver JVM and the Python workers it starts."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's 16g default is all of a 16 GB host's memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    # the package is not installed: workers import it from the checkout
    paths = [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM's own temporary files (extracted native libraries, artifact
    # directories, perf counters) would otherwise land in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]


def derive_inputs(workload: str, base: Path, seed: int, sizes: tuple) -> None:
    """The lake tables and corpora the workload reads, under ``base``."""
    import inputs

    sf_lake, sf_corpus, _, _ = sizes
    if workload == "lake_analytics":
        inputs.write_lake(str(base / "lake"), sf_lake, seed, tables=LAKE_TABLES)
        inputs.write_lake(str(base / "lake"), sf_corpus, seed, tables=CORPUS_TABLES)
        inputs.write_bigram_corpus(str(base / "lake"), str(base / "wide"))


def pass_inputs(derived: Path, base: Path) -> dict[str, str]:
    """A new directory of hard links to the derived inputs, and an empty one
    for the sinks.  New paths mean that nothing keyed by path (memo caches,
    the stream replay, Spark's file listing) carries over between passes."""
    for src in derived.rglob("*"):
        dst = base / src.relative_to(derived)
        if src.is_dir():
            dst.mkdir(parents=True, exist_ok=True)
        else:
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.link(src, dst)
    return {k: str(base / k) for k in ("lake", "wide", "sink")}


# what the lake_analytics ops read: TPC-H-shaped tables for the joins, and
# smaller events, embeddings and documents for the stream and curation ops
LAKE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
CORPUS_TABLES = ("events", "embeddings", "documents")


def start_session():
    from guidance_for_sap_data_integration_and_management_on_aws_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class _Untraced:
    """The hooks of an untraced pass: none."""

    def op(self, op) -> contextlib.AbstractContextManager:
        return contextlib.nullcontext()

    def plan(self, op, built) -> None:
        pass


class Runner:
    """Runs passes of one workload.  Every pass reads its own links to the
    inputs and starts with empty memo caches, so every pass does the same
    work.  Set-up is process start, imports, the Spark session, input
    derivation and WARMUP_PASSES passes (the first one JIT-cold); ``setup_s``
    is its wall time.  Passes after set-up are measured until ``--seconds``
    have passed and at least MIN_MEASURED passes ran."""

    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        self.args, self.work = args, work
        self.sizes = SIZES["smoke" if args.smoke else "full"]
        self.rng = random.Random(args.seed)
        self.spark = None
        self.workload = None
        self.sampler = None  # probes.RssSampler, in a traced run
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.op_runs: dict[str, int] = {}
        # op name -> (op, what it built), from the last call; the checks' input
        self.last: dict[str, tuple] = {}
        self.setup_s = 0.0
        # (traced, pass wall, {op: (wall, build)}, TracedPass or None)
        self.measured: list[tuple] = []
        self.spans = None  # probes.Spans, in a traced run
        self.stages = None  # probes.StageReader, made by the first traced pass

    def _start(self) -> None:
        import probes
        from workloads import WORKLOADS

        self.spark = start_session()
        derive_inputs(self.args.workload, self.work / "inputs", self.args.seed, self.sizes)
        _, _, rows, page = self.sizes
        self.workload = WORKLOADS[self.args.workload](self.spark, rows, page)
        if self.args.trace:
            jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            self.sampler = probes.RssSampler(jvm_pid)
            self.sampler.start()

    def run_pass(self, k: int, trace=None) -> tuple[float, dict[str, tuple[float, float]]]:
        """Pass ``k`` over the workload's ops: in their listed order during
        set-up, so that set-up does the same work on every seed, and in an
        order drawn from the seed after it.  Returns the pass wall time and
        {op: (wall_s, build_s)}.  A ``trace``
        (layers.TracedPass) wraps each op and plans what it built, recording
        what it reads from the engine."""
        from workloads import ordered

        if self.spark is None:
            self._start()
        dirs = pass_inputs(self.work / "inputs", self.work / f"pass{k}")
        shutil.rmtree(self.work / f"pass{k - 1}", ignore_errors=True)
        self.workload.before_pass(dirs)
        hooks = trace or _Untraced()
        times: dict[str, tuple[float, float]] = {}
        t_pass = time.perf_counter()
        ops = self.workload.ops()
        for op in ops if k < WARMUP_PASSES else ordered(ops, self.rng):
            self.attempted += 1
            self.op_runs[op.name] = self.op_runs.get(op.name, 0) + 1
            try:
                with hooks.op(op):
                    t0 = time.perf_counter()
                    built = op.build()
                    t1 = time.perf_counter()
                    hooks.plan(op, built)
                    op.run(built)
                    t2 = time.perf_counter()
            except Exception:
                log(f"op {op.name} raised:\n{traceback.format_exc()}")
                self.failed_ops.add(op.name)
                continue
            times[op.name] = (t2 - t0, t1 - t0)
            self.last[op.name] = (op, built)
        return time.perf_counter() - t_pass, times

    def check_outputs(self) -> None:
        for name, (op, built) in self.last.items():
            if name in self.failed_ops:
                continue
            try:
                op.check(built)
            except Exception:
                log(f"check {name} failed:\n{traceback.format_exc()}")
                self.failed_ops.add(name)

    @property
    def failed(self) -> int:
        return sum(self.op_runs.get(n, 0) for n in self.failed_ops)

    def run(self) -> dict:
        trace_factory = None
        if self.args.trace:
            import layers
            import probes

            trace_factory = layers.TracedPass
            self.spans = probes.Spans()
        k, t_measure = 0, None
        while True:
            measured = k >= WARMUP_PASSES
            # measured passes alternate untraced and traced in a traced run
            trace = None
            if measured and trace_factory and len(self.measured) % 2 == 1:
                trace = trace_factory(self)
            if trace is None:
                wall, times = self.run_pass(k)
            else:
                with self.spans.span(f"pass{k + 1}"):
                    wall, times = self.run_pass(k, trace)
                trace.close()
            if measured:
                self.measured.append((trace is not None, wall, times, trace))
            log(f"pass {k + 1}{' (traced)' if trace else ''}: {wall:.2f}s "
                + " ".join(f"{n}={t[0]:.2f}" for n, t in times.items()))
            k += 1
            if k == WARMUP_PASSES:
                t_measure = time.monotonic()
                self.setup_s = t_measure - PROCESS_T0
            if (len(self.measured) >= MIN_MEASURED[self.args.trace]
                    and time.monotonic() - t_measure >= self.args.seconds):
                break
        if self.args.trace:
            self.sampler.stop()
            metrics = layers.per_layer_metrics(self)
        else:
            op_walls: dict[str, list[float]] = {}
            for _, _, times, _ in self.measured:
                for name, (wall, _) in times.items():
                    op_walls.setdefault(name, []).append(wall)
            metrics = {
                "setup_s": self.setup_s,
                "pass_s": statistics.median(m[1] for m in self.measured),
                # geometric mean of each op's median latency, as TPC-H's power
                # metric: every op moves it by its relative change
                "op_geomean_s": statistics.geometric_mean(
                    statistics.median(w) for w in op_walls.values()
                ),
            }
        t_check = time.monotonic()
        self.check_outputs()
        log(f"checks: {time.monotonic() - t_check:.2f}s")
        if self.args.trace:
            metrics["ops_failed_frac"] = self.failed / self.attempted
        return metrics


def engine_scratch() -> set[Path]:
    """The per-call directories the engine has made under its scratch root."""
    return set(ENGINE_SCRATCH.glob("*/*")) if ENGINE_SCRATCH.is_dir() else set()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it runs in (its Python workers
    exit with it), and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits when stdin closes
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the engine package {PKG}/ is not beside {HERE.name}/; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    runner = Runner(args, work)
    scratch_before = engine_scratch()
    try:
        metrics = runner.run()
    finally:
        if runner.sampler is not None:
            runner.sampler.stop()
        if runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
        # only what this run made: another process may be using the rest
        for path in engine_scratch() - scratch_before:
            shutil.rmtree(path, ignore_errors=True)
    from metrics import END_TO_END, per_layer

    units = {n: u for n, (u, *_) in {**END_TO_END, **per_layer()}.items()}
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
