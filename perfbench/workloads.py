"""The three workloads. Each runs in one process against one SparkSession.

A workload has a ``setup`` (inputs generated and staged), a ``run_round``
(one round of its operations, timed by spans; the first ``warmup_rounds``
rounds of a run are not timed), and a ``finish`` (checks that need the whole run). ``run_round``
returns the round's figures by name: the workload's own stage times, and in
traced mode the per-layer counts of its spans.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, inputs, udfs
from perfbench.tracing import skew

DERBY_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
NUMS = [f"num{k}" for k in range(7)]

# One per operator module, each timed as plan build + noop write.
CATALOG_ENTRIES = (
    "q5_local_supplier_volume",    # relational: 6-way join
    "dedup_minhash_lsh",           # dedup: MinHash + LSH bands
    "dsir_importance_select",      # pipeline: mapInPandas kernel
    "text_char_ngram_repetition",  # curation: numpy kernel
    "mm_decode_jpeg",              # multimodal: Python JPEG decode
    "sim_cosine_topk",             # similarity: brute-force cosine top-k
    "graph_pagerank",              # graph: checkpointed iterations
    "eval_spearman_corr",          # evaluation: rank windows
)
# Checked by properties instead of equality with its oracle (see checks.py).
PROPERTY_CHECKED = {"dedup_minhash_lsh"}
CATALOG_LAYER = ("build_s", "run_s", "jobs", "tasks", "shuffle_bytes",
                 "spill_bytes", "gc_s", "executor_cpu_s")


class Context:
    def __init__(self, engine, tracer, k: int, work: str, seed: int):
        self.engine = engine
        self.spark = engine.spark
        self.tracer = tracer
        self.k = k
        self.work = work
        self.seed = seed


def _jdbc(spark, url: str):
    return spark._jvm.java.sql.DriverManager.getConnection(url)


def _query(conn, sql: str) -> list[tuple]:
    st = conn.createStatement()
    try:
        rs = st.executeQuery(sql)
        width = rs.getMetaData().getColumnCount()
        out = []
        while rs.next():
            out.append(tuple(rs.getLong(i + 1) for i in range(width)))
        return out
    finally:
        st.close()


def _update(conn, *statements: str) -> None:
    st = conn.createStatement()
    try:
        for sql in statements:
            st.execute(sql)
    finally:
        st.close()


class ReferenceE2E:
    """The reference's own job through ``Engine``: scope, partitioned JDBC
    import, the Catalyst flagship reduce, JDBC export, scope deletion; then a
    bulk export of the imported rows."""

    name = "reference_e2e"
    ops_per_round = 6
    # The JVM is still warming up in the second round: it ran 15 % slower
    # than the third, and later rounds differ by a few per cent.
    warmup_rounds = 2

    def setup(self, ctx: Context) -> None:
        self.n = inputs.E2E_ROWS
        self.url = f"jdbc:derby:{ctx.work}/derby/e2e;create=true"
        self.conn = _jdbc(ctx.spark, self.url)
        cols = ", ".join(f"{c} INT" for c in NUMS)
        _update(self.conn,
                f"CREATE TABLE e2e_input (id BIGINT PRIMARY KEY, {cols})",
                "CREATE TABLE e2e_output (id INT, mean INT)",
                f"CREATE TABLE e2e_bulk ({cols})")
        csv = os.path.join(ctx.work, "e2e_input.csv")
        inputs.write_csv(inputs.e2e_rows(self.n, ctx.seed), csv)
        _update(self.conn, "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                f"null, 'E2E_INPUT', '{csv}', ',', null, null, 0)")
        os.remove(csv)

    def run_round(self, ctx: Context, first: bool) -> tuple[dict, list[str]]:
        from mapreduce_wsi_spark.plans.flagship import (
            per_key_integer_mean, positional_explode)
        from pyspark.sql import functions as F

        def flagship_job(spark, prefix):
            data = spark.read.parquet(f"{prefix}/input")
            lines = data.select(F.concat_ws(",", *NUMS).alias("value"))
            (per_key_integer_mean(positional_explode(lines))
             .write.mode("overwrite").parquet(f"{prefix}/output"))

        eng, tr = ctx.engine, ctx.tracer
        select = ", ".join(f"e2e_input.{c}" for c in NUMS)
        with tr.span("scope.create") as create:
            sid = eng.create_scope()
        with tr.span("jdbc.import") as imp:
            eng.import_jdbc(sid, self.url, f"SELECT {select} FROM e2e_input",
                            "e2e_input.id", "input",
                            num_partitions=ctx.k, properties=DERBY_PROPS)
        with tr.span("flagship.run_job") as job:
            eng.run_job(sid, flagship_job)
        with tr.span("jdbc.export_result") as res:
            eng.export_jdbc(sid, self.url, "E2E_OUTPUT", "output",
                            properties=DERBY_PROPS)
        with tr.span("jdbc.export_bulk") as bulk:
            eng.export_jdbc(sid, self.url, "E2E_BULK", "input",
                            properties=DERBY_PROPS)
        problems = self._check(eng.scope_path(sid, "input"))
        with tr.span("scope.delete") as delete:
            eng.delete_scope(sid)
        _update(self.conn, "DELETE FROM e2e_output", "TRUNCATE TABLE e2e_bulk")
        tr.collect([imp, job, bulk])
        pipeline = sum(s.seconds for s in (create, imp, job, res, delete))
        out = {
            "round_s": pipeline + bulk.seconds,
            "pipeline_s": pipeline,
            "import_rows_per_s": self.n / imp.seconds,
            "export_rows_per_s": self.n / bulk.seconds,
            "scope.create_s": create.seconds,
            "scope.delete_s": delete.seconds,
            "jdbc.import_s": imp.seconds,
            "jdbc.export_s": bulk.seconds,
            "flagship.reduce_s": job.seconds,
        }
        if imp.stats is not None:
            out.update({
                "jdbc.bounds_s": imp.stats.first_job_s,
                "jdbc.import_tasks": imp.stats.later_tasks,
                "jdbc.import_task_skew": skew(imp.stats.later_task_ms),
                "jdbc.export_tasks": bulk.stats.tasks,
                "flagship.shuffle_write_bytes": job.stats.shuffle_write_bytes,
            })
        return out, problems

    def _check(self, imported: str) -> list[str]:
        """Imported parquet (via pyarrow), the exported means and the bulk
        table (via plain JDBC), all against the closed form."""
        t = pq.read_table(imported)
        if [c.lower() for c in t.column_names] != NUMS:
            return [f"import: columns {t.column_names}, expected {NUMS}"]
        sums = [int(np.asarray(c, dtype=np.int64).sum()) for c in t.columns]
        problems = checks.column_totals(self.n, t.num_rows, sums, "import")
        problems += checks.seven_means(
            _query(self.conn, "SELECT id, mean FROM e2e_output"), "export")
        row = _query(self.conn, "SELECT COUNT(*), "
                     + ", ".join(f"SUM(CAST({c} AS BIGINT))" for c in NUMS)
                     + " FROM e2e_bulk")[0]
        problems += checks.column_totals(self.n, row[0], row[1:],
                                         "bulk export")
        return problems

    def finish(self, ctx: Context) -> list[str]:
        self.conn.close()
        return []


class StreamingDataflow:
    """The reference's bring-your-own-script path, ``pipe_map_reduce``, and
    the same map/reduce as pandas functions through ``arrow_map_reduce``."""

    name = "streaming_dataflow"
    ops_per_round = 2
    warmup_rounds = 1

    def setup(self, ctx: Context) -> None:
        self.sid = ctx.engine.create_scope()
        inputs.write_text_parts(inputs.e2e_rows(inputs.E2E_ROWS, ctx.seed),
                                ctx.engine.scope_path(self.sid, "input"),
                                ctx.k)

    def run_round(self, ctx: Context, first: bool) -> tuple[dict, list[str]]:
        from mapreduce_wsi_spark.operators.dataflow import arrow_map_reduce

        eng, tr, sid = ctx.engine, ctx.tracer, self.sid
        with tr.span("pipe.map_reduce") as pipe:
            eng.pipe_map_reduce(sid, udfs.MAPPER, udfs.REDUCER, "input",
                                "pipe_out", num_reducers=ctx.k)
        with tr.span("arrow.map_reduce") as arrow:
            lines = eng.spark.read.text(eng.scope_path(sid, "input"))
            means = arrow_map_reduce(lines, udfs.arrow_map, udfs.MAP_SCHEMA,
                                     ["idx"], udfs.arrow_reduce,
                                     udfs.REDUCE_SCHEMA)
            means.write.mode("overwrite").parquet(
                eng.scope_path(sid, "arrow_out"))
        tr.collect([pipe, arrow], python_bytes=True)
        problems = self._check(eng.scope_path(sid, "pipe_out"),
                               eng.scope_path(sid, "arrow_out"))
        for out in ("pipe_out", "arrow_out"):
            shutil.rmtree(eng.scope_path(sid, out))
        out = {"round_s": pipe.seconds + arrow.seconds,
               "pipe_mr_s": pipe.seconds, "arrow_mr_s": arrow.seconds}
        if pipe.stats is not None:
            out.update({
                "pipe.map_stage_s": pipe.stats.map_stage_s,
                "pipe.reduce_stage_s": pipe.stats.result_stage_s,
                "pipe.shuffle_write_bytes": pipe.stats.shuffle_write_bytes,
                "pipe.spill_bytes": pipe.stats.spill_bytes,
                "arrow.map_stage_s": arrow.stats.map_stage_s,
                "arrow.reduce_stage_s": arrow.stats.result_stage_s,
                "arrow.shuffle_write_bytes": arrow.stats.shuffle_write_bytes,
                "arrow.python_bytes": arrow.stats.python_bytes,
            })
        return out, problems

    @staticmethod
    def _check(pipe_dir: str, arrow_dir: str) -> list[str]:
        pipe_rows = []
        for part in sorted(glob.glob(os.path.join(pipe_dir, "part-*"))):
            with open(part) as f:
                pipe_rows += [ln.rstrip("\n").split("\t")
                              for ln in f if ln.strip()]
        t = pq.read_table(arrow_dir)
        return (checks.seven_means(pipe_rows, "pipe_map_reduce")
                + checks.seven_means(zip(t["id"].to_pylist(),
                                         t["mean"].to_pylist()),
                                     "arrow_map_reduce"))

    def finish(self, ctx: Context) -> list[str]:
        ctx.engine.delete_scope(self.sid)
        return []


class CatalogMix:
    """Catalog entries over a fixed fixture, each timed as plan build plus
    execution to a ``noop`` sink. The first (warm-up) round collects instead, and
    those rows are checked against DuckDB at the end."""

    name = "catalog_mix"
    ops_per_round = len(CATALOG_ENTRIES)
    warmup_rounds = 1

    def setup(self, ctx: Context) -> None:
        from mapreduce_wsi_spark.plans.registry import load_catalog

        self.fixture = os.path.join(ctx.work, "fixture")
        inputs.write_catalog_fixture(self.fixture)
        catalog = load_catalog()
        self.entries = {q: catalog[q] for q in CATALOG_ENTRIES}
        self.outputs: dict[str, tuple[list[str], list[tuple]]] = {}

    def run_round(self, ctx: Context, first: bool) -> tuple[dict, list[str]]:
        tr, spark = ctx.tracer, ctx.spark
        spans = {}
        for q, entry in self.entries.items():
            with tr.span(f"catalog.{q}.build") as build:
                df = entry.fn(spark, self.fixture)
            with tr.span(f"catalog.{q}.run") as run:
                if first:
                    self.outputs[q] = (df.columns,
                                       [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            spans[q] = (build, run)
        tr.collect([s for pair in spans.values() for s in pair])
        total = sum(b.seconds + r.seconds for b, r in spans.values())
        out = {"round_s": total, "catalog_mix_s": total}
        for q, (build, run) in spans.items():
            out[f"catalog.{q}.build_s"] = build.seconds
            out[f"catalog.{q}.run_s"] = run.seconds
            if build.stats is None:
                continue
            b, r = build.stats, run.stats
            out.update({
                f"catalog.{q}.jobs": b.jobs + r.jobs,
                f"catalog.{q}.tasks": b.tasks + r.tasks,
                f"catalog.{q}.shuffle_bytes":
                    b.shuffle_write_bytes + r.shuffle_write_bytes,
                f"catalog.{q}.spill_bytes": b.spill_bytes + r.spill_bytes,
                f"catalog.{q}.gc_s": b.gc_s + r.gc_s,
                f"catalog.{q}.executor_cpu_s":
                    b.executor_cpu_s + r.executor_cpu_s,
            })
        return out, []

    def finish(self, ctx: Context) -> list[str]:
        """Each warm-up output against its DuckDB oracle over the fixture."""
        con = inputs.fixture_connection(self.fixture, ctx.k)
        problems = []
        for q, (cols, rows) in self.outputs.items():
            if q in PROPERTY_CHECKED:
                exact = con.sql(EXACT_PAIRS_SQL).fetchall()
                problems += checks.near_dup_pairs(q, cols, rows, exact)
                continue
            rel = con.sql(self.entries[q].oracle)
            d_cols = list(rel.columns)
            d_rows = [tuple(r[c] for c in d_cols)
                      for r in rel.arrow().to_pylist()]
            problems += checks.same_rows(q, cols, rows, d_cols, d_rows)
        con.close()
        return problems


# Every document pair whose sets of distinct word 3-shingles have Jaccard
# similarity >= 0.1, computed exactly.
EXACT_PAIRS_SQL = """
    WITH sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                                AS shingle
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents) d) q),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle
                                 AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1
    """


WORKLOADS = {w.name: w for w in (ReferenceE2E, StreamingDataflow, CatalogMix)}
