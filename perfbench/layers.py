"""The traced run: per-layer metrics.

Untraced and traced passes alternate.  Untraced passes give the per-op and
per-suite times; traced passes, through hooks around the same timing code,
add per op Catalyst planning time, stage metrics from the status store
(grouped per phase), ``catalog.load`` calls and, on ``sap_ingest``, the rows
and pages the RFC server served.  On ``sap_ingest`` each layer of the
reference job is also timed in isolation: the scan alone, the parse over a
cached raw frame and the sinks over a persisted parse.  Metrics a workload
does not exercise read 0.
"""

from __future__ import annotations

import functools
import statistics
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

import probes
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources import lake, rfc
from guidance_for_sap_data_integration_and_management_on_aws_spark import caches
from metrics import CURATION_OPS, QUERY_OPS, STAGE_METRICS, per_layer
from workloads import SAP_TABLE, noop, sink_bytes

ISOLATED_REPS = 2
PHASE_OF = {**dict.fromkeys(QUERY_OPS, "query"), **dict.fromkeys(CURATION_OPS, "curation")}


class TracedPass:
    """The hooks of one traced pass: ``op`` wraps an op in a span and a stage
    group, ``plan`` times Catalyst planning of what the op built.  Both
    record per op; ``close`` undoes the instrumentation."""

    def __init__(self, runner) -> None:
        if runner.stages is None:
            runner.stages = probes.StageReader(runner.spark)
        self.stages, self.spans = runner.stages, runner.spans
        self.per_op: dict[str, dict] = {}
        self.catalog = probes.CatalogProbe()
        self.counts = None
        wl = self._wl = runner.workload
        if wl.name == "sap_ingest":
            sc = runner.spark.sparkContext
            self.counts = (sc.accumulator(0), sc.accumulator(0))
            self._transport = wl.transport
            wl.transport = functools.partial(
                probes.CountingTransport, rows_acc=self.counts[0], pages_acc=self.counts[1]
            )

    @contextmanager
    def op(self, op) -> Iterator[None]:
        rec = self.per_op[op.name] = {"phase": op.phase, "plan_s": 0.0}
        with self.spans.span(f"op:{op.name}"), self.stages.group(f"{op.phase}/{op.name}") as st:
            yield
        rec.update(st)

    def plan(self, op, built) -> None:
        if isinstance(built, DataFrame):
            with self.spans.span("plan"):
                t = time.perf_counter()
                built._jdf.queryExecution().executedPlan()
                self.per_op[op.name]["plan_s"] = time.perf_counter() - t

    def close(self) -> None:
        self.catalog.restore()
        if self.counts is not None:
            self._wl.transport = self._transport


def _isolated_sap(runner, spans: probes.Spans) -> dict[str, float]:
    """Each layer of the reference job alone; medians of ISOLATED_REPS."""
    wl, spark = runner.workload, runner.spark
    n, page = wl.rows, wl.page
    factory = functools.partial(rfc.MockRfcTransport, n)
    reps = defaultdict(list)
    for rep in range(ISOLATED_REPS):
        with spans.span("layer:rfc.scan"):
            t = time.perf_counter()
            raw, fields = rfc.read_rfc_table(spark, factory, SAP_TABLE, page_size=page)
            noop(raw)
            reps["rfc.scan_rows_per_s"].append(n / (time.perf_counter() - t))
        raw = raw.cache()
        raw.count()
        with spans.span("layer:rfc.parse"):
            t = time.perf_counter()
            parsed = rfc.parse_rfc_frame(raw, fields)
            noop(parsed.valid)
            noop(parsed.errors)
            reps["rfc.parse_rows_per_s"].append(n / (time.perf_counter() - t))
        persisted = rfc.ParsedRfc(parsed.valid.persist(), parsed.errors.persist(), parsed.fields)
        persisted.valid.count()
        persisted.errors.count()
        with spans.span("layer:lake.sink"):
            t = time.perf_counter()
            lake.write_dual_sink(persisted, str(runner.work / "isolated_sink"), SAP_TABLE,
                                 fmt="parquet", run_ts=f"rep{rep}")
            reps["lake.sink_rows_per_s"].append(n / (time.perf_counter() - t))
        persisted.valid.unpersist()
        persisted.errors.unpersist()
        raw.unpersist()
        server = rfc.MockRfcTransport(n)
        with spans.span("layer:rfc.server"):
            for skip in (0, (n // 2) // page * page, (n - 1) // page * page):
                t = time.perf_counter()
                server.call(SAP_TABLE, rfc.DEFAULT_DELIMITER, skip, page)
                reps["rfc.server_s_per_page"].append(time.perf_counter() - t)
    return {k: statistics.median(v) for k, v in reps.items()}


def _isolated_wide(runner, spans: probes.Spans) -> dict[str, float]:
    """The dedup op on the bigram corpus alone, with empty memo caches each
    call: one warm-up call, then medians of ISOLATED_REPS.  The last call's
    output is checked with the passes' ops."""
    op = runner.workload.wide_op()
    walls, builds = [], []
    for rep in range(ISOLATED_REPS + 1):
        caches.clear_caches()
        with spans.span(f"layer:{op.name}"):
            t0 = time.perf_counter()
            built = op.build()
            t1 = time.perf_counter()
            op.run(built)
            t2 = time.perf_counter()
        if rep:
            walls.append(t2 - t0)
            builds.append(t1 - t0)
    runner.attempted += ISOLATED_REPS + 1
    runner.op_runs[op.name] = ISOLATED_REPS + 1
    runner.last[op.name] = (op, built)
    return {f"op.{op.name}.wall_s": statistics.median(walls),
            f"op.{op.name}.build_s": statistics.median(builds)}


def per_layer_metrics(runner) -> dict[str, float]:
    wl = runner.workload
    med = statistics.median
    out = dict.fromkeys(per_layer(), 0.0)
    untraced = [(wall, times) for traced, wall, times, _ in runner.measured if not traced]
    traced = [(wall, tp) for is_traced, wall, _, tp in runner.measured if is_traced]
    # after two warm-up passes, against the untraced passes around them
    out["trace.overhead_frac"] = med(w for w, _ in traced) / statistics.mean(
        w for w, _ in untraced
    ) - 1
    out["peak_rss_mb"] = runner.sampler.peak / 2**20
    # each clear at the start of a pass released what the previous pass built
    out["caches.entries_built"] = med(wl.entries_built[1:])

    op_times = defaultdict(list)  # op -> [(wall, build)], untraced passes
    for _, times in untraced:
        for name, t in times.items():
            op_times[name].append(t)

    def per_op(name: str, i: int) -> float:
        """Median wall (i=0) or build (i=1) time of an op; 0 if it failed."""
        return med(t[i] for t in op_times[name]) if name in op_times else 0.0

    for name in op_times:
        if f"op.{name}.wall_s" in out:
            out[f"op.{name}.wall_s"] = per_op(name, 0)
            out[f"op.{name}.build_s"] = per_op(name, 1)

    # per phase: sums over the ops of one traced pass, median over passes
    per_pass = []
    for _, tp in traced:
        acc = defaultdict(float)
        for rec in tp.per_op.values():
            ph = rec["phase"]
            acc[f"{ph}.plan_s"] += rec["plan_s"]
            for m in STAGE_METRICS:
                if m in rec:
                    acc[f"{ph}.{m}"] += rec[m]
        acc["catalog.loads"] = tp.catalog.loads
        acc["catalog.load_s"] = tp.catalog.load_s
        if tp.counts is not None:
            acc["rfc.rows_fetched_per_row"] = tp.counts[0].value / wl.rows
            acc["rfc.pages"] = tp.counts[1].value
        per_pass.append(acc)
    for key in set().union(*per_pass):
        if key in out:
            out[key] = med(p.get(key, 0.0) for p in per_pass)
    for ph in wl.phases:
        if out[f"{ph}.run_s"] > 0:
            out[f"{ph}.noncpu_share"] = 1 - out[f"{ph}.cpu_s"] / out[f"{ph}.run_s"]

    def suite(phase: str) -> list[float]:
        names = [n for n in op_times if PHASE_OF.get(n) == phase]
        return [sum(times[n][0] for n in names if n in times) for _, times in untraced]

    if wl.name == "sap_ingest":
        ingest, extract = per_op("rfc_ingest", 0), per_op("saprfc_extract", 0)
        out["ingest_rows_per_s"] = wl.rows / ingest if ingest else 0.0
        out["extract_rows_per_s"] = wl.rows / extract if extract else 0.0
        out["readback_s"] = per_op("lake_readback", 0)
        out["saprfc.load_s"] = per_op("saprfc_extract", 1)
        # the sink directory still holds the last pass's output
        files, size = sink_bytes(wl.dirs["sink"])
        out["lake.files_written"] = files
        out["lake.bytes_written"] = size
        out["lake_bytes_per_row"] = size / wl.rows
        out.update(_isolated_sap(runner, runner.spans))
    else:
        out["query_suite_s"] = med(suite("query"))
        out["query_p50_s"] = med(per_op(n, 0) for n in QUERY_OPS)
        out["curation_suite_s"] = med(suite("curation"))
        out.update(_isolated_wide(runner, runner.spans))

    runner.spans.write(str(runner.work.parent / f"spans-{wl.name}-seed{runner.args.seed}.json"))
    return out
