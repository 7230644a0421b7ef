"""Seeded input derivation for the benchmark.

Writes lake tables with the schemas of ``catalog.TABLES`` (the ones the
benchmark's queries read) as one parquet file each, with DuckDB, from nothing
but a scale factor and the workload seed.  Every random draw is ``hash(row,
column, seed)``, so the same seed gives the same rows on any thread count.
Row counts follow the fixture convention: ``lineitem`` has 6,000,000 x sf
rows, ``events`` 1,000,000 x sf over 30 days, ``embeddings`` 50,000 x sf
vectors of 64 floats.

``documents`` keeps the shapes the dedup operators care about: a 31-word
vocabulary (the <=64-token bitset paths fire on it) and near-duplicate
documents.  ``write_bigram_corpus`` derives the wide-vocabulary twin.
"""

from __future__ import annotations

import os

import duckdb

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "lake line merge order page part query row scan slow small sort spark "
    "stream table the value window"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _rows(sf: float, base: int) -> int:
    return max(1, round(base * sf))


def write_lake(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> None:
    """Write ``tables`` at scale ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": _rows(sf, 150_000),
        "supplier": _rows(sf, 10_000),
        "orders": _rows(sf, 1_500_000),
        "lineitem": _rows(sf, 6_000_000),
        "documents": _rows(sf, 50_000),
        "events": _rows(sf, 1_000_000),
        "embeddings": _rows(sf, 50_000),
    }
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        # u(i, k): uniform [0, 1) draw for row i, column k.
        con.execute(
            f"CREATE MACRO u(i, k) AS (hash(i, k, {int(seed)}) % 1000000007)::DOUBLE / 1000000007"
        )
        con.execute(f"CREATE MACRO pick(i, k, m) AS (hash(i, k, {int(seed)}) % m)::BIGINT")
        vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        regions = "[" + ", ".join(f"'{r}'" for r in REGIONS) + "]"
        event_types = "['click', 'error', 'purchase', 'signup', 'view']"
        sql_of = {
            "region": f"""
                SELECT i::INTEGER AS r_regionkey, {regions}[i + 1] AS r_name
                FROM range(5) t(i)""",
            "nation": """
                SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                       (i % 5)::INTEGER AS n_regionkey
                FROM range(25) t(i)""",
            "customer": f"""
                SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                       pick(i, 1, 25)::INTEGER AS c_nationkey,
                       round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
                       ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][pick(i, 3, 5) + 1]
                         AS c_mktsegment
                FROM range({n["customer"]}) t(i)""",
            "supplier": f"""
                SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                       pick(i, 1, 25)::INTEGER AS s_nationkey,
                       round(-999.99 + u(i, 2) * 10999.98, 2) AS s_acctbal
                FROM range({n["supplier"]}) t(i)""",
            "orders": f"""
                SELECT i AS o_orderkey, pick(i, 1, {n["customer"]}) AS o_custkey,
                       ['F', 'O', 'P'][pick(i, 2, 3) + 1] AS o_orderstatus,
                       round(1000 + u(i, 3) * 499000, 2) AS o_totalprice,
                       (DATE '1995-01-01' + pick(i, 4, 2404)::INTEGER)::TIMESTAMP AS o_orderdate,
                       ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][pick(i, 5, 5) + 1]
                         AS o_orderpriority
                FROM range({n["orders"]}) t(i)""",
            "lineitem": f"""
                SELECT pick(i, 1, {n["orders"]}) AS l_orderkey,
                       pick(i, 2, {_rows(sf, 200_000)}) AS l_partkey,
                       pick(i, 3, {n["supplier"]}) AS l_suppkey,
                       (1 + pick(i, 4, 7))::INTEGER AS l_linenumber,
                       (1 + pick(i, 5, 50))::DOUBLE AS l_quantity,
                       round(900 + u(i, 6) * 104099, 2) AS l_extendedprice,
                       pick(i, 7, 11) / 100.0 AS l_discount,
                       pick(i, 8, 9) / 100.0 AS l_tax,
                       ['A', 'N', 'R'][pick(i, 9, 3) + 1] AS l_returnflag,
                       ['F', 'O'][pick(i, 10, 2) + 1] AS l_linestatus,
                       (DATE '1995-01-02' + pick(i, 11, 2498)::INTEGER)::TIMESTAMP AS l_shipdate
                FROM range({n["lineitem"]}) t(i)""",
            # 30 days of events from 150 users, in event_id order
            "events": f"""
                SELECT i AS event_id,
                       make_timestamp(1704067200000000 + pick(i, 1, 2592000000000)) AS ts,
                       pick(i, 2, 150) AS user_id,
                       {event_types}[pick(i, 3, 5) + 1] AS event_type,
                       round(0.01 + u(i, 4) * 490, 2) AS value,
                       '{{"k": ' || pick(i, 5, 100) || '}}' AS props
                FROM range({n["events"]}) t(i)""",
            "embeddings": f"""
                SELECT i AS vec_id,
                       list_transform(range(64), j -> (u(i * 64 + j, 1) * 2 - 1)::FLOAT) AS embedding,
                       pick(i, 2, 3)::INTEGER AS label
                FROM range({n["embeddings"]}) t(i)""",
            "documents": f"""
                WITH base AS (
                  SELECT i, list_transform(range(10 + pick(i, 1, 91)),
                                           j -> {vocab}[pick(i * 1000 + j, 2, {len(VOCAB)}) + 1]) AS toks
                  FROM range({n["documents"]}) t(i)
                ), shaped AS (
                  -- every 600th doc repeats its predecessor verbatim; every
                  -- 10th is a near-duplicate of the doc five places back
                  SELECT b.i,
                         CASE WHEN b.i % 600 = 1 THEN p1.toks
                              WHEN b.i % 10 = 5 THEN list_transform(
                                  range(len(p5.toks)),
                                  j -> CASE WHEN j % 7 = 3 THEN {vocab}[pick(b.i * 1000 + j, 3, {len(VOCAB)}) + 1]
                                            ELSE p5.toks[j + 1] END)
                              ELSE b.toks END AS toks
                  FROM base b
                  LEFT JOIN base p1 ON p1.i = b.i - 1
                  LEFT JOIN base p5 ON p5.i = b.i - 5
                )
                SELECT i AS doc_id, array_to_string(toks, ' ') AS text,
                       CASE WHEN pick(i, 4, 20) < 8 THEN 'en'
                            ELSE ['de', 'es', 'fr', 'zh'][pick(i, 5, 4) + 1] END AS lang,
                       'src' || (i % 20) AS source,
                       length(array_to_string(toks, ' '))::BIGINT AS n_chars
                FROM shaped ORDER BY i""",
        }
        for name in tables:
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql_of[name]}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()


def write_bigram_corpus(src_dir: str, out_dir: str) -> int:
    """Word-bigram twin of ``src_dir``'s documents: token i becomes
    ``w_i + "_" + w_{i+1}``, which widens the vocabulary from 31 words to up
    to 961 bigrams while keeping the documents' overlap structure.  Returns
    the bigram vocabulary size."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        src = os.path.join(src_dir, "documents.parquet")
        con.execute(
            f"""
            CREATE TEMP VIEW bigrams AS
            WITH t AS (SELECT *, string_split(text, ' ') AS w FROM read_parquet('{src}'))
            SELECT doc_id,
                   array_to_string(list_transform(range(len(w) - 1),
                                                  j -> w[j + 1] || '_' || w[j + 2]), ' ') AS text,
                   lang, source
            FROM t"""
        )
        out = os.path.join(out_dir, "documents.parquet")
        con.execute(
            f"""COPY (SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
                      FROM bigrams ORDER BY doc_id) TO '{out}' (FORMAT PARQUET)"""
        )
        return con.execute(
            "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w FROM bigrams)"
        ).fetchone()[0]
    finally:
        con.close()
