"""The workloads: each is a list of operations run once per pass.

An operation has a driver-side ``build`` (DataFrame construction: Python,
py4j and analysis), an action ``run`` that forces the work, and a ``check``
that compares what the last pass built with an independent answer, outside
every timed region.  Registry queries are forced with a ``noop`` write,
which materializes every row and column the plan produces.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from guidance_for_sap_data_integration_and_management_on_aws_spark import caches
from guidance_for_sap_data_integration_and_management_on_aws_spark.catalog import TABLES
from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
    SQL_MOCK_DD03L,
)
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources import lake, rfc
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
    register as register_saprfc,
)
from metrics import CURATION_OPS, QUERY_OPS, WIDE_OP

SAP_TABLE = "DD03L"


@dataclass
class Op:
    name: str
    phase: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any], None]  # given what the op's last build returned
    after: str | None = None  # must run after this op within a pass


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def duck_over(lake_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per lake table present in ``lake_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(lake_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _oracle_check(built: DataFrame, name: str, lake_dir: str) -> None:
    import __spark_entry__ as entry
    from oracle_harness import compare

    con = duck_over(lake_dir)
    try:
        compare(built, con, entry.oracle_sql()[name], name)
    finally:
        con.close()


def registry_op(spark, name: str, phase: str, lake_dir: str, label: str | None = None) -> Op:
    import __spark_entry__ as entry  # imports every operator module

    builder = entry.queries()[name]
    return Op(
        name=label or name,
        phase=phase,
        build=lambda: builder(spark, lake_dir),
        run=noop,
        check=lambda built: _oracle_check(built, name, lake_dir),
    )


class Workload:
    """Base: ``ops`` in canonical order, and ``before_pass`` which points the
    workload at a pass's fresh inputs."""

    name = ""
    phases: tuple[str, ...] = ()

    def __init__(self, spark, rows: int, page: int) -> None:
        self.spark, self.rows, self.page = spark, rows, page
        self.dirs: dict[str, str] = {}
        self.entries_built: list[int] = []

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def before_pass(self, dirs: dict[str, str]) -> None:
        self.dirs = dirs
        # every pass is one fresh run, not a run of memo hits
        self.entries_built.append(caches.clear_caches())


class LakeAnalytics(Workload):
    """Registry queries over the lake (phase ``query``: a six-table join and
    a streaming drain) and curation ops (phase ``curation``: Jaccard dedup
    on a 31-token corpus and a pandas UDF).  ``wide_op`` is the dedup op on
    the corpus's word-bigram twin, which the traced run times alone."""

    name = "lake_analytics"
    phases = ("query", "curation")

    def ops(self) -> list[Op]:
        d, spark = self.dirs, self.spark
        return [registry_op(spark, q, "query", d["lake"]) for q in QUERY_OPS] + [
            registry_op(spark, q, "curation", d["lake"]) for q in CURATION_OPS
        ]

    def wide_op(self) -> Op:
        return registry_op(self.spark, WIDE_OP, "curation", self.dirs["wide"],
                           label=f"wide.{WIDE_OP}")


class SapIngest(Workload):
    """The reference job over the mock RFC server, then a typed extract of
    the same table through the ``saprfc`` source, then queries over the
    landed lake."""

    name = "sap_ingest"
    phases = ("ingest", "extract", "readback")

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        register_saprfc(self.spark)
        self.transport = rfc.MockRfcTransport
        self.report: lake.IngestReport | None = None
        self.readback: tuple[list, int] | None = None

    @property
    def expected_err(self) -> int:
        # the mock corrupts every row with i % 37 == 0
        return (self.rows - 1) // 37 + 1

    # -- rfc job: scan -> parse -> split -> cast -> both sinks ----------------
    def build_ingest(self) -> rfc.ParsedRfc:
        raw, fields = rfc.read_rfc_table(
            self.spark,
            functools.partial(self.transport, self.rows),
            SAP_TABLE,
            page_size=self.page,
        )
        return rfc.parse_rfc_frame(raw, fields)

    def run_ingest(self, parsed: rfc.ParsedRfc) -> None:
        self.report = lake.write_dual_sink(
            parsed, self.dirs["sink"], SAP_TABLE, fmt="parquet", run_ts="run"
        )

    def check_ingest(self, _parsed) -> None:
        r = self.report
        want_err = self.expected_err
        if (r.valid_count, r.err_count) != (self.rows - want_err, want_err):
            raise AssertionError(f"ingest counts {r.valid_count}/{r.err_count}, want "
                                 f"{self.rows - want_err}/{want_err}")

    # -- saprfc typed scan ------------------------------------------------------
    def build_extract(self) -> DataFrame:
        df = (
            self.spark.read.format("saprfc")
            .option("table", SAP_TABLE)
            .option("mockrows", str(self.rows))
            .option("pagesize", str(self.page))
            .load()
        )
        return df.select(
            *[c for c in df.columns if c != "_corrupt_record"],
            F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
        )

    def check_extract(self, built: DataFrame) -> None:
        import __spark_entry__ as entry

        got = built.toArrow()
        # The registry oracle replicates the mock from range(2500); widen it
        # to range(rows).  Its lpad(..., 5) truncates ids >= 100000 where the
        # mock's f"{i:05d}" keeps every digit, so use printf for the same text.
        sql = entry.oracle_sql()["saprfc_scan_typed"].replace(
            SQL_MOCK_DD03L, f"SELECT CAST(range AS BIGINT) AS i FROM range({self.rows})"
        ).replace("lpad(CAST(i AS VARCHAR),5,'0')", "printf('%05d', i)")
        con = duckdb.connect()
        try:
            con.register("got", got)
            con.execute(f"CREATE VIEW want AS {sql}")
            cols = ", ".join(got.column_names)
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)"
            ).fetchone()[0]
            missing = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)"
            ).fetchone()[0]
        finally:
            con.close()
        if extra or missing or got.num_rows != self.rows:
            raise AssertionError(f"saprfc scan: {got.num_rows} rows, {extra} unexpected, "
                                 f"{missing} missing against the oracle")

    # -- queries over the landed lake -------------------------------------------
    READBACK_SQL = (
        "SELECT TABNAME, DATATYPE, count(*) AS n, sum(LENG) AS leng, "
        "count(ASDATE) AS dated, max(POSITION) AS max_pos FROM {} GROUP BY TABNAME, DATATYPE"
    )

    def build_readback(self) -> tuple[DataFrame, DataFrame]:
        data = lake.read_back(self.spark, self.report.data_path)
        agg = data.groupBy("TABNAME", "DATATYPE").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("LENG").alias("leng"),
            F.count("ASDATE").alias("dated"),
            F.max("POSITION").alias("max_pos"),
        )
        return agg, lake.read_back(self.spark, self.report.error_path)

    def run_readback(self, frames: tuple[DataFrame, DataFrame]) -> None:
        agg, errors = frames
        self.readback = ([tuple(r) for r in agg.collect()], errors.count())

    def check_readback(self, _frames) -> None:
        rows, n_err = self.readback
        con = duckdb.connect()
        try:
            src = f"read_parquet('{self.report.data_path}/*.parquet')"
            want = con.execute(self.READBACK_SQL.format(src)).fetchall()
        finally:
            con.close()
        if sorted(rows) != sorted(want):
            raise AssertionError("read-back aggregate differs from DuckDB over the landed files")
        n_valid = sum(r[2] for r in rows)
        if (n_valid, n_err) != (self.rows - self.expected_err, self.expected_err):
            raise AssertionError(f"read-back counts {n_valid}/{n_err}")

    def ops(self) -> list[Op]:
        return [
            Op("rfc_ingest", "ingest", self.build_ingest, self.run_ingest, self.check_ingest),
            Op("saprfc_extract", "extract", self.build_extract, noop, self.check_extract),
            Op("lake_readback", "readback", self.build_readback, self.run_readback,
               self.check_readback, after="rfc_ingest"),
        ]


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (SapIngest, LakeAnalytics)}


def ordered(ops: list[Op], rng) -> list[Op]:
    """``ops`` shuffled by ``rng``, then each op with an ``after`` moved just
    behind the op it depends on."""
    out = list(ops)
    rng.shuffle(out)
    for op in [o for o in out if o.after]:
        out.remove(op)
        dep = next(i for i, o in enumerate(out) if o.name == op.after)
        out.insert(dep + 1, op)
    return out


def sink_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size

