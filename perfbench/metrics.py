"""Every metric the benchmark reports: name -> unit, direction and, for the
per-layer metrics, which end-to-end metric it should move on which workload.

``python3 perfbench/metrics.py`` prints the ``BENCHMARK.json`` that matches
this catalogue.
"""

from __future__ import annotations

import json

WORKLOADS = {
    "sap_ingest": "the reference job over a mock RFC server: 240k rows paged, DDIC parse, "
    "valid/error split, cast, both parquet sinks; a typed saprfc scan; a read-back. Python-bound",
    "lake_analytics": "a six-table query, a streaming drain, Jaccard dedup on a 31-token corpus "
    "and a pandas UDF over a seeded lake; the traced run adds the dedup on a bigram corpus",
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_s": ("s", "lower", 0.25),
    "op_geomean_s": ("s", "lower", 0.25),
}

# The registry ops each pass of lake_analytics runs: the subset that fits the
# run budget on a 4-core host (README.md lists what was left out and why).
QUERY_OPS = ["q5_local_supplier", "stream_tumbling_agg"]
CURATION_OPS = ["dedup_incremental_jaccard", "udf_pandas_l2norm"]
# timed alone in the traced run, as "wide.<name>", on the bigram twin of the
# document corpus: the general verify path, which the passes' corpus bypasses
WIDE_OP = "dedup_incremental_jaccard"
# phase -> workload
PHASES = {
    "ingest": "sap_ingest",
    "extract": "sap_ingest",
    "readback": "sap_ingest",
    "query": "lake_analytics",
    "curation": "lake_analytics",
}
STAGE_METRICS = {
    "cpu_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "noncpu_share": ("ratio", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "tasks": ("count", "lower"),
    "jobs": ("count", "lower"),
}


def per_layer() -> dict[str, tuple[str, str, str]]:
    """name -> (unit, better, "end-to-end metric @ workload it should move")."""
    sap = "pass_s@sap_ingest"
    out: dict[str, tuple[str, str, str]] = {
        # the reference job's own end-to-end figures, from the traced run's
        # untraced passes
        "ingest_rows_per_s": ("rows/s", "higher", sap),
        "extract_rows_per_s": ("rows/s", "higher", sap),
        "readback_s": ("s", "lower", sap),
        "lake_bytes_per_row": ("B/row", "lower", sap),
        "query_suite_s": ("s", "lower", "pass_s@lake_analytics"),
        "query_p50_s": ("s", "lower", "op_geomean_s@lake_analytics"),
        "curation_suite_s": ("s", "lower", "pass_s@lake_analytics"),
        # sources.rfc
        "rfc.scan_rows_per_s": ("rows/s", "higher", sap),
        "rfc.parse_rows_per_s": ("rows/s", "higher", sap),
        "rfc.rows_fetched_per_row": ("ratio", "lower", sap),
        "rfc.pages": ("count", "lower", sap),
        "rfc.server_s_per_page": ("s", "lower", "none: the stand-in server's own cost"),
        # sources.lake
        "lake.sink_rows_per_s": ("rows/s", "higher", sap),
        "lake.files_written": ("count", "lower", sap),
        "lake.bytes_written": ("B", "lower", sap),
        # saprfc data source
        "saprfc.load_s": ("s", "lower", sap),
        # Catalyst planning, summed over the ops of one pass
        "query.plan_s": ("s", "lower", "pass_s@lake_analytics"),
        "curation.plan_s": ("s", "lower", "pass_s@lake_analytics"),
        # catalog and memo caches
        "catalog.load_s": ("s", "lower", "pass_s@lake_analytics (not sap_ingest)"),
        "catalog.loads": ("count", "lower", "pass_s@lake_analytics (not sap_ingest)"),
        "caches.entries_built": ("count", "lower", "pass_s@lake_analytics"),
        # driver JVM plus Python workers; too variable run to run for a bound
        "peak_rss_mb": ("MB", "lower", "none: memory, not time"),
        "trace.overhead_frac": ("ratio", "lower", "none: cost of tracing itself"),
        "ops_failed_frac": ("ratio", "lower", "all: must stay 0"),
    }
    for phase, wl in PHASES.items():
        for m, (unit, better) in STAGE_METRICS.items():
            out[f"{phase}.{m}"] = (unit, better, f"pass_s@{wl}")
    for op in QUERY_OPS + CURATION_OPS:
        out[f"op.{op}.wall_s"] = ("s", "lower", "pass_s,op_geomean_s@lake_analytics")
        out[f"op.{op}.build_s"] = ("s", "lower", "pass_s,op_geomean_s@lake_analytics")
    wide = "none: timed alone; the passes' 31-token corpus takes the bitset path instead"
    out[f"op.wide.{WIDE_OP}.wall_s"] = ("s", "lower", wide)
    out[f"op.wide.{WIDE_OP}.build_s"] = ("s", "lower", wide)
    return out


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 5,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b, _) in per_layer().items()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
