"""The benchmark workloads: one operation each, plus its output checks.

A workload is driven as a closed loop by ``run.py``: one client issues
the next operation only after the previous one returned. ``cold`` is
the first operation of a process; ``op`` is the repeated, warm one.
Checks run after the timed region, against DuckDB over the same inputs;
an operation whose check fails counts as failed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb

import inputs

MIB = 1024 * 1024
INT32 = (-(2**31), 2**31 - 1)


@dataclass
class Op:
    phase: str  # "cold", "warmup" or "measured"
    index: int
    start: float = 0.0  # time.time(), the event log's clock
    end: float = 0.0
    seconds: float = 0.0  # perf_counter duration
    rows: int = 0
    completed: bool = False  # the program call returned
    error: str | None = None  # it raised, or its output check failed
    info: dict = field(default_factory=dict)


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


def _null_token_sql(col: str) -> str:
    tokens = ", ".join(f"'{t}'" for t in inputs.NULL_TOKENS)
    return f'CASE WHEN "{col}" IN ({tokens}) THEN NULL ELSE "{col}" END'


def _column_profile_sql(source: str, columns: list[str], longs: set, dates: set) -> str:
    """One row: per column the null count, plus sums for integer columns
    (cast back from downcasts and stringified categoricals) and for
    dates as days since 1970-01-01."""
    parts = ["count(*) AS n"]
    for c in columns:
        parts.append(f'count(*) - count("{c}") AS "nulls:{c}"')
        if c in longs:
            parts.append(f'sum(TRY_CAST("{c}" AS BIGINT)) AS "sum:{c}"')
        elif c in dates:
            parts.append(f"sum(date_diff('day', DATE '1970-01-01', \"{c}\")) AS \"sum:{c}\"")
    return f"SELECT {', '.join(parts)} FROM {source}"


def _one_row(con, sql: str) -> dict:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return dict(zip(names, cur.fetchone()))


def output_columns() -> list[str]:
    """The pipeline drops every column whose name contains ``_ar``
    (the reference's substring quirk: ``actual_area`` goes too)."""
    return [c for c in inputs.csv_columns() if "_ar" not in c]


def typed_csv_sql(csv_dir: str) -> str:
    """The CSV as the pipeline must read it: null tokens to NULL, longs
    and dates cast leniently (unparseable -> NULL)."""
    cols = []
    for c in inputs.csv_columns():
        v = _null_token_sql(c)
        if c in inputs.CSV_LONG_COLUMNS:
            v = f"TRY_CAST({v} AS BIGINT)"
        elif c in inputs.CSV_DATE_COLUMNS:
            v = f"TRY_CAST({v} AS DATE)"
        cols.append(f'{v} AS "{c}"')
    return (
        f"SELECT {', '.join(cols)} FROM read_csv('{csv_dir}/*.csv', header=true,"
        " all_varchar=true, delim=',', quote='\"', escape='\"')"
    )


def good_row_sql() -> str:
    """Rows the main output admits: every kept long column fits int32
    or is NULL; the rest are quarantined."""
    return " AND ".join(
        f'("{c}" IS NULL OR "{c}" BETWEEN {INT32[0]} AND {INT32[1]})'
        for c in output_columns() if c in inputs.CSV_LONG_COLUMNS
    )


class CsvEtl:
    """The paper's own job: ``plans.rent_contracts.run_pipeline`` turns
    a seeded rent_contracts CSV into Parquet plus a quarantine file."""

    name = "csv_etl"
    rows = 200_000
    #: covers most of the JIT drift (README, "How a run works")
    warmup_ops = 3

    def __init__(self, cache_root: str, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.csv = inputs.cached(cache_root, "csv", seed, self.rows, inputs.write_csv)
        self.csv_bytes = dir_bytes(self.csv, ".csv")
        self.expected = self._oracle()

    def _oracle(self) -> dict:
        """Expected accounting and per-column profile, from DuckDB over
        the same CSV."""
        longs, dates = set(inputs.CSV_LONG_COLUMNS), set(inputs.CSV_DATE_COLUMNS)
        out_cols = output_columns()
        good = good_row_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE TEMP TABLE typed AS {typed_csv_sql(self.csv)}")
            con.execute(f"CREATE TEMP TABLE good AS SELECT * FROM typed WHERE {good}")
            return {
                "rows_in": con.execute("SELECT count(*) FROM typed").fetchone()[0],
                "rows_quarantined": con.execute(
                    f"SELECT count(*) FROM typed WHERE NOT ({good})"
                ).fetchone()[0],
                "columns": sorted(out_cols),
                "profile": _one_row(con, _column_profile_sql("good", out_cols, longs, dates)),
            }
        finally:
            con.close()

    def _paths(self, op: Op) -> tuple[str, str]:
        base = os.path.join(self.work, f"etl-{op.index}")
        return os.path.join(base, "out"), os.path.join(base, "quarantine")

    def cold(self, spark, op: Op) -> None:
        self.op(spark, op)

    def op(self, spark, op: Op) -> None:
        from ais_data_pipeline_spark.plans import rent_contracts

        out, quarantine = self._paths(op)
        t0 = time.perf_counter()
        result = rent_contracts.run_pipeline(
            spark, self.csv, out, quarantine, schema=inputs.csv_schema()
        )
        op.seconds = time.perf_counter() - t0
        op.rows = self.expected["rows_in"]
        op.info = {
            "rows_in": result.rows_in,
            "rows_out": result.rows_out,
            "rows_quarantined": result.rows_quarantined,
            "output_bytes": dir_bytes(out, ".parquet") + dir_bytes(quarantine, ".parquet"),
        }

    def check(self, ops: list[Op]) -> None:
        """rows_in = rows_out + rows_quarantined, the quarantine count,
        the output column set and per-column null counts and sums must
        all match the DuckDB oracle."""
        exp = self.expected
        longs, dates = set(inputs.CSV_LONG_COLUMNS), set(inputs.CSV_DATE_COLUMNS)
        con = duckdb.connect()
        try:
            for op in ops:
                if op.error:
                    continue
                out, quarantine = self._paths(op)
                src = f"read_parquet('{out}/*.parquet')"
                cols = [d[0] for d in con.execute(f"SELECT * FROM {src} LIMIT 0").description]
                n_bad = con.execute(
                    f"SELECT count(*) FROM read_parquet('{quarantine}/*.parquet')"
                ).fetchone()[0]
                got = {
                    "rows_in": op.info["rows_in"],
                    "rows_quarantined": n_bad,
                    "columns": sorted(cols),
                    "profile": _one_row(con, _column_profile_sql(src, cols, longs, dates)),
                }
                problems = [k for k in exp if got[k] != exp[k]]
                if op.info["rows_out"] + op.info["rows_quarantined"] != exp["rows_in"]:
                    problems.append("rows_in != rows_out + rows_quarantined")
                if op.info["rows_quarantined"] != n_bad:
                    problems.append("reported quarantine count != quarantine file")
                if problems:
                    op.error = f"output check failed: {problems}"
        finally:
            con.close()

    def compression_x(self, ops: list[Op]) -> float:
        """CSV bytes over the Parquet bytes (main + quarantine) written."""
        sizes = sorted(op.info["output_bytes"] for op in ops)
        return self.csv_bytes / sizes[len(sizes) // 2]

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(os.path.dirname(self._paths(op)[0]), ignore_errors=True)


_DOC_SCHEMA = "doc_id bigint, text string"


class DedupStream:
    """The curate-then-stream flow: a bootstrap (``run_curation`` over a
    seeded history, then ``build_dedup_index`` over the curated output)
    followed by micro-batches through ``dedup_and_append_batch``
    against an index that grows through the run."""

    name = "dedup_stream"
    history_docs = 2_000
    batch_docs = 300
    warmup_ops = 3

    def __init__(self, cache_root: str, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.history = inputs.cached(
            cache_root, "corpus", seed, self.history_docs, inputs.write_corpus
        )
        self.history_texts = inputs.corpus_docs(seed, self.history_docs)
        self.curated = os.path.join(work, "curated")
        self.index = os.path.join(work, "index")
        self.survivors = os.path.join(work, "survivors")
        self.batches: dict[int, tuple] = {}
        self.bootstrap: dict = {}

    def cold(self, spark, op: Op) -> None:
        """The bootstrap: curate the history and index what survives."""
        from ais_data_pipeline_spark.plans import curation
        from ais_data_pipeline_spark.streaming import incremental_dedup

        t0 = time.perf_counter()
        # explicit schemas: inference would add a listing job per read
        read = spark.read.schema(_DOC_SCHEMA).parquet
        result = curation.run_curation(spark, read(self.history), self.curated)
        incremental_dedup.build_dedup_index(read(self.curated), self.index)
        op.seconds = time.perf_counter() - t0
        op.rows = self.history_docs
        self.bootstrap = {
            "n_total": result.n_total,
            "n_after_exact": result.n_after_exact,
            "n_after_near_dup": result.n_after_near_dup,
            "n_kept": result.n_kept,
        }
        op.info = dict(self.bootstrap)

    def op(self, spark, op: Op) -> None:
        from ais_data_pipeline_spark.streaming import incremental_dedup

        k = op.index
        first_id = self.history_docs + k * self.batch_docs
        ids, texts, kinds, sources = inputs.batch_docs(
            self.seed, k, self.batch_docs, self.history_texts, first_id
        )
        path = os.path.join(self.work, "batches", str(k))
        inputs.write_batch(path, ids, texts)
        self.batches[k] = (ids, texts, kinds, sources)
        batch_df = spark.read.schema(_DOC_SCHEMA).parquet(path)
        t0 = time.perf_counter()
        n_in, n_kept = incremental_dedup.dedup_and_append_batch(
            batch_df, k, self.index, self.survivors
        )
        op.seconds = time.perf_counter() - t0
        op.rows = n_in
        op.info = {
            "rows_kept": n_kept,
            "input_bytes": dir_bytes(path, ".parquet"),
            "output_bytes": sum(
                dir_bytes(os.path.join(root, d), ".parquet")
                for root, dirs, _ in os.walk(self.work)
                for d in dirs
                if d == f"src_batch={k}"
            ),
        }

    def check(self, ops: list[Op]) -> None:
        """Over curated history plus survivors: no text repeats, every
        exact copy (of a curated doc, an earlier batch's survivor or a
        smaller-id doc of the same batch) is dropped, and every fresh doc
        whose text is unique is kept."""
        import pyarrow as pa

        rows = {"doc_id": [], "text": [], "batch": [], "kind": []}
        for k, (ids, texts, kinds, _) in sorted(self.batches.items()):
            rows["doc_id"] += ids
            rows["text"] += texts
            rows["batch"] += [k] * len(ids)
            rows["kind"] += kinds
        con = duckdb.connect()
        try:
            con.register("batch_docs", pa.table(rows))
            con.register("history", pa.table({"text": self.history_texts}))
            con.execute(
                f"CREATE TEMP TABLE curated AS SELECT doc_id, md5(text) AS h "
                f"FROM read_parquet('{self.curated}/*.parquet')"
            )
            have_survivors = os.path.isdir(self.survivors)
            surv_src = (
                f"read_parquet('{self.survivors}/**/*.parquet', hive_partitioning=true)"
                if have_survivors else "(SELECT NULL::BIGINT AS doc_id, NULL AS text, "
                "NULL::BIGINT AS src_batch WHERE false)"
            )
            con.execute(
                f"CREATE TEMP TABLE surv AS SELECT doc_id, md5(text) AS h, "
                f"CAST(src_batch AS BIGINT) AS batch FROM {surv_src}"
            )
            con.execute(
                "CREATE TEMP TABLE b AS SELECT doc_id, md5(text) AS h, batch, kind, "
                "doc_id IN (SELECT doc_id FROM surv) AS kept FROM batch_docs"
            )
            bad_batches = dict(
                con.execute(
                    """
                    WITH repeats AS (
                        SELECT s.batch FROM surv s
                        WHERE s.h IN (SELECT h FROM curated)
                           OR EXISTS (SELECT 1 FROM surv t WHERE t.h = s.h
                                      AND (t.batch < s.batch
                                           OR (t.batch = s.batch AND t.doc_id < s.doc_id)))
                    ), exact_kept AS (
                        SELECT d.batch FROM b d WHERE d.kept AND (
                            d.h IN (SELECT h FROM curated)
                            OR EXISTS (SELECT 1 FROM surv t WHERE t.h = d.h AND t.batch < d.batch)
                            OR EXISTS (SELECT 1 FROM b e WHERE e.h = d.h AND e.batch = d.batch
                                       AND e.doc_id < d.doc_id))
                    ), fresh_lost AS (
                        SELECT d.batch FROM b d WHERE d.kind = 'fresh' AND NOT d.kept
                          AND (SELECT count(*) FROM b e WHERE e.h = d.h) = 1
                          AND d.h NOT IN (SELECT md5(text) FROM history)
                    )
                    SELECT batch, count(*) FROM (
                        SELECT * FROM repeats UNION ALL SELECT * FROM exact_kept
                        UNION ALL SELECT * FROM fresh_lost) GROUP BY batch
                    """
                ).fetchall()
            )
            curated_n, curated_distinct = con.execute(
                "SELECT count(*), count(DISTINCT h) FROM curated"
            ).fetchone()
        finally:
            con.close()
        planted_exact = sum(1 for i in range(self.history_docs) if i % 50 == 1)
        for op in ops:
            if op.error:
                continue
            if op.phase == "cold":
                boot = self.bootstrap
                problems = []
                if curated_n != curated_distinct:
                    problems.append("curated output repeats a text")
                if curated_n != boot["n_kept"]:
                    problems.append("n_kept != curated rows")
                if boot["n_total"] != self.history_docs:
                    problems.append("n_total != history size")
                if boot["n_after_exact"] != self.history_docs - planted_exact:
                    problems.append("exact stage did not drop exactly the planted copies")
                if problems:
                    op.error = f"bootstrap check failed: {problems}"
            elif bad_batches.get(op.index):
                op.error = f"batch check failed: {bad_batches[op.index]} violating docs"

    def compression_x(self, ops: list[Op]) -> float:
        """Batch input bytes over the bytes the sink wrote for them
        (survivors plus the four index tables)."""
        return sum(op.info["input_bytes"] for op in ops) / sum(
            op.info["output_bytes"] for op in ops
        )

    def index_size(self) -> tuple[int, float]:
        files = sum(len(f) for _, _, f in os.walk(self.index))
        return files, dir_bytes(self.index) / MIB

    def cleanup(self, op: Op) -> None:
        """Batches stay on disk: later checks and the index need them."""


WORKLOADS = {w.name: w for w in (CsvEtl, DedupStream)}
