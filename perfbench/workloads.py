"""The benchmark's workloads: inputs, jobs and output checks.

A workload builds its inputs from the seed (``build``), then offers a
list of named jobs. Each job returns what it produced; ``check``
compares that with an oracle computed independently of the program:

- queries: DuckDB runs the query's registered oracle SQL over the same
  parquet files, compared with the repo's own order-insensitive value
  hash (``tests/test_queries_oracle.py::_vhash``);
- exports: ``jobs.validate_export`` (CRCs, row counts, schema), and the
  read-back aggregates against the ``avro_roundtrip_audit`` oracle SQL
  over the source parquet.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import gen


@dataclass
class Job:
    name: str
    span: str  # top-level span name in a traced run
    fn: object  # () -> output


@dataclass
class Ctx:
    spark: object
    seed: int
    nproc: int
    input_dir: str
    export_dir: str  # export outputs go here
    oracles: dict = field(default_factory=dict)
    n_rows: int = 0  # rows in the exported table
    exports: list = field(default_factory=list)  # export dirs, in run order


def _duck(input_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(input_dir, t)}.parquet'"
        )
    return con


def _oracle(con, sql: str):
    from test_queries_oracle import _vhash

    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), sorted(cols), _vhash(cols, rows)


def _matches(oracle, cols, rows) -> bool:
    from test_queries_oracle import _vhash

    n, ocols, h = oracle
    return len(rows) == n and sorted(cols) == ocols and _vhash(cols, rows) == h


class QueryWorkload:
    """Registered queries run one at a time, each ending in ``collect()``."""

    def __init__(self, name, why, queries, sf):
        self.name, self.why, self.queries, self.sf = name, why, queries, sf

    def build(self, ctx: Ctx) -> None:
        from dbeam_spark.queries import ORACLES
        from dbeam_spark.sources.files import TABLES

        gen.write(ctx.input_dir, ctx.seed, self.sf)
        con = _duck(ctx.input_dir, TABLES)
        ctx.oracles = {q: _oracle(con, ORACLES[q]) for q in self.queries}
        con.close()

    def jobs(self, ctx: Ctx) -> list[Job]:
        import dbeam_spark.queries as registry

        def run(q):
            df = registry.QUERIES[q](ctx.spark, ctx.input_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        return [
            Job(q, f"query.{q}", lambda q=q: run(q)) for q in self.queries
        ]

    def check(self, ctx: Ctx, job: str, out) -> bool:
        return _matches(ctx.oracles[job], *out)


_READBACK_AGG = [
    "CAST(COUNT(1) AS BIGINT) AS n_rows",
    "CAST(SUM(L_ORDERKEY) AS BIGINT) AS sum_orderkey",
    "CAST(SUM(CAST(ROUND(L_EXTENDEDPRICE * 100) AS BIGINT)) AS BIGINT)"
    " AS sum_price_cents",
    "CAST(SUM(CAST(ROUND(L_DISCOUNT * 100) AS BIGINT)) AS BIGINT)"
    " AS sum_discount_pct",
    "CAST(SUM(L_SHIPDATE DIV 86400000) AS BIGINT) AS sum_shipdate_day",
    "CAST(SUM(LENGTH(L_RETURNFLAG)) AS BIGINT) AS sum_flag_len",
]


class ExportWorkload:
    """dbeam's job: a ranged JDBC export of ``lineitem`` from embedded
    Derby to Avro, then a read-back of that export."""

    def __init__(self, name, why, sf):
        self.name, self.why, self.sf = name, why, sf
        self.queries = ["export", "readback"]

    def url(self, ctx: Ctx) -> str:
        return f"jdbc:derby:{os.path.join(ctx.input_dir, 'derby')}"

    def build(self, ctx: Ctx) -> None:
        from dbeam_spark.queries import ORACLES

        import pyarrow.parquet as pq

        li = gen.tables(ctx.seed, self.sf)["lineitem"]
        os.makedirs(ctx.input_dir, exist_ok=True)
        pq.write_table(li, os.path.join(ctx.input_dir, "lineitem.parquet"))
        ctx.n_rows = li.num_rows
        # Upper-case column names: Spark's JDBC writer quotes the names
        # it creates, and Derby folds unquoted identifiers (the split
        # column in the bounds query) to upper case.
        df = ctx.spark.read.parquet(
            os.path.join(ctx.input_dir, "lineitem.parquet")
        )
        (
            df.toDF(*[c.upper() for c in df.columns])
            .write.format("jdbc")
            .option("url", self.url(ctx) + ";create=true")
            .option("dbtable", "LINEITEM")
            .option("user", "dbeam")
            .mode("overwrite")
            .save()
        )
        con = _duck(ctx.input_dir, ["lineitem"])
        ctx.oracles = {"readback": _oracle(con, ORACLES["avro_roundtrip_audit"])}
        con.close()

    def export_opts(self, ctx: Ctx, out: str):
        from dbeam_spark.options import JdbcExportOptions

        return JdbcExportOptions(
            connectionUrl=self.url(ctx),
            table="LINEITEM",
            username="dbeam",
            output=out,
            splitColumn="L_ORDERKEY",
            queryParallelism=ctx.nproc,
            avroCodec="deflate6",
        )

    def jobs(self, ctx: Ctx) -> list[Job]:
        from dbeam_spark.jobs import jdbc_avro_job
        from dbeam_spark.sources import avro as avro_source

        def export():
            out = os.path.join(ctx.export_dir, f"export-{len(ctx.exports)}")
            ctx.exports.append(out)
            return out, jdbc_avro_job.run_export(ctx.spark, self.export_opts(ctx, out))

        def readback():
            back = avro_source.read_avro(
                ctx.spark, ctx.exports[-1], logical_as_timestamp=False
            )
            df = back.selectExpr(*_READBACK_AGG)
            return df.columns, [tuple(r) for r in df.collect()]

        return [
            Job("export", "job.export", export),
            Job("readback", "job.readback", readback),
        ]

    def check(self, ctx: Ctx, job: str, out) -> bool:
        if job == "readback":
            return _matches(ctx.oracles["readback"], *out)
        from dbeam_spark.jobs.validate_export import validate_export

        path, metrics = out
        rep = validate_export(path)
        ok = (
            rep.ok
            and rep.row_count == ctx.n_rows
            and metrics["recordCount"] == ctx.n_rows
        )
        shutil.rmtree(path, ignore_errors=True)
        return ok


# Every query here matched its oracle on each seed tried (40 for the
# TPC-H and event queries, 20 for stream_window_agg and text_tokens). The
# TPC-H queries that ROUND a SUM of l_extendedprice * (1 - l_discount)
# (q1, q3, q5, q9) are left out: that sum has four decimals, so about
# one group in a hundred is an exact half-cent tie, which Spark and
# DuckDB round apart (q1_pricing_summary mismatches at seed 104, sf0.01).
# The stream is a JVM-side windowed aggregation (micro-batches and the
# state store). An applyInPandasWithState stream (stream_throttle) costs
# at least 5 s a pass on 4 cores, whatever its input: one Python task
# per state-store partition. Next to it, a run's time would hold one or
# two passes, and so one or two samples of every short job; for the same
# reason q21_waiting_suppliers, the slowest TPC-H query here, is out.
SQL_STREAM_QUERIES = [
    "q13_customer_distribution",
    "q18_large_orders",
    "window_top_orders",
    "events_sessionize",
    "asof_join_events",
    "stream_window_agg",
]
LLM_QUERIES = [
    "dedup_exact",
    "dedup_embedding",
    "knn_self_join",
    "multimodal_png_decode",
    "text_tokens",
]

WORKLOADS = {
    w.name: w
    for w in [
        ExportWorkload(
            "export_jdbc",
            "dbeam's whole job: ranged JDBC scan of Derby, Avro encode and "
            "deflate, metadata, then read-back; no shuffle, no query operators",
            sf=0.005,
        ),
        QueryWorkload(
            "sql_stream",
            "sub-second TPC-H and event queries plus a windowed stream: "
            "Catalyst, shuffle, per-job driver overhead and the state store; "
            "no Python boundary",
            SQL_STREAM_QUERIES,
            sf=0.01,
        ),
        QueryWorkload(
            "llm_dedup",
            "dedup, kNN, PNG-decode and tokenizer kernels: time goes to the "
            "Python/Arrow boundary and numpy; no stream, no Avro",
            LLM_QUERIES,
            sf=0.01,
        ),
    ]
}
