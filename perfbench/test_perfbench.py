"""Unit tests for the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer  # noqa: E402


# -- event-log attribution -------------------------------------------------


def _job_events(job_id, submit, end, stage, cpu_ns=0):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submit * 1000,
         "Stage IDs": [stage]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end * 1000},
    ]


def _hand_written_log():
    """Spans: ``op`` [100, 110] on the main thread, its child ``probe``
    [102, 105]. Jobs: one in ``op`` alone, two overlapping ones in
    ``probe``, one submitted from a pool thread while only ``op`` is
    open, one between spans inside the region, one outside the region.
    """
    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 99_000}]
    events += _job_events(0, 100.5, 101.0, 0, cpu_ns=2e9)
    events += _job_events(1, 103.0, 104.5, 1)
    events += _job_events(2, 103.5, 105.0, 2, cpu_ns=1e9)
    events += _job_events(3, 107.0, 108.0, 3)  # pool thread
    # stage 2 listed again by a later job: it was skipped there
    events[-3]["Stage IDs"].append(2)
    events += _job_events(4, 111.0, 111.5, 4)  # between spans
    events += _job_events(5, 130.0, 131.0, 5)  # after the region
    spans = [
        Span(0, "op", 100.0, 110.0, None, "MainThread"),
        Span(1, "probe", 102.0, 105.0, 0, "MainThread"),
    ]
    return [json.dumps(e) for e in events], spans


def test_attribution_on_hand_written_event_log():
    lines, spans = _hand_written_log()
    jobs = eventlog.read_jobs(lines)
    assert [j.id for j in jobs] == [0, 1, 2, 3, 4, 5]
    region = (100.0, 120.0)
    att = eventlog.attribute(spans, jobs, region)

    # the pool-thread job goes to the span open around it
    assert [j.id for j in att.owned[0]] == [0, 3]
    assert [j.id for j in att.owned[1]] == [1, 2]
    # a job outside every span is unattributed
    assert [j.id for j in att.unattributed] == [4]
    # attributed + unattributed = every job the log has for the region
    in_region = sum(1 for j in jobs if region[0] <= j.submit <= region[1])
    assert in_region == att.total == 5
    assert sum(len(v) for v in att.owned.values()) + len(att.unattributed) == att.total

    fig = eventlog.span_figures(spans, att)
    # overlapping jobs 1 [103, 104.5] and 2 [103.5, 105]: union 2.0 s, not 3.0
    assert fig[1]["busy_s"] == pytest.approx(2.0)
    assert fig[1]["driver_gap_s"] == pytest.approx(1.0)
    # op includes its child's jobs; its self time excludes the child span
    assert fig[0]["jobs"] == 4
    assert fig[0]["busy_s"] == pytest.approx(0.5 + 2.0 + 1.0)
    assert fig[0]["self_s"] == pytest.approx(7.0)
    assert fig[0]["task_cpu_s"] == pytest.approx(3.0)
    assert fig[1]["shuffle_write_bytes"] == 200
    ops = [(100.0, 110.0)]
    assert eventlog.per_op_median(spans, fig, "probe", ops, "calls") == 1
    assert eventlog.per_op_median(spans, fig, "absent", ops, "wall_s") == 0.0


def test_pool_thread_span_parent_is_enclosing_span():
    tracer = Tracer()
    with tracer.span("outer") as outer:
        done = []

        def work():
            with tracer.span("inner"):
                done.append(True)

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive() and done
    inner = [s for s in tracer.spans if s.name == "inner"][0]
    assert inner.parent == outer.id and inner.thread != outer.thread


def test_install_patches_imported_names_and_uninstall_restores():
    from ais_data_pipeline_spark import checkpointing
    from ais_data_pipeline_spark.plans import curation

    original = checkpointing.materialize
    tracer = Tracer()
    tracer.install(["ais_data_pipeline_spark.checkpointing:materialize"])
    try:
        assert curation.materialize is checkpointing.materialize is not original
    finally:
        tracer.uninstall()
    assert curation.materialize is checkpointing.materialize is original


# -- seeded inputs ---------------------------------------------------------


@pytest.mark.parametrize(
    "write,size", [(inputs.write_csv, 2_000), (inputs.write_corpus, 300)]
)
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, write, size):
    digests = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        path = str(tmp_path / name)
        write(path, seed, size)
        digests[name] = inputs.dir_digest(path)
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_batches_are_seeded_and_keyed():
    history = inputs.corpus_docs(3, 200)
    a = inputs.batch_docs(3, 1, 100, history, 200)
    assert a == inputs.batch_docs(3, 1, 100, history, 200)
    assert a[1] != inputs.batch_docs(4, 1, 100, history, 200)[1]
    ids = a[0]
    assert len(set(ids)) == len(ids) and None not in ids


def test_cache_builds_once(tmp_path):
    calls = []

    def write(path, seed, size):
        calls.append(seed)
        inputs.write_corpus(path, seed, size)

    first = inputs.cached(str(tmp_path), "corpus", 5, 50, write)
    assert inputs.cached(str(tmp_path), "corpus", 5, 50, write) == first
    assert calls == [5]


# -- output checks ---------------------------------------------------------


def _csv_workload(tmp_path) -> workloads.CsvEtl:
    class Small(workloads.CsvEtl):
        rows = 3_000

    return Small(str(tmp_path / "cache"), str(tmp_path / "work"), seed=11)


def _write_reference_output(wl, op, corrupt: bool) -> None:
    """The output the pipeline must produce, written by DuckDB."""
    out, quarantine = wl._paths(op)
    os.makedirs(out)
    os.makedirs(quarantine)
    cols = wl.expected["columns"]
    good = workloads.good_row_sql()
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS {workloads.typed_csv_sql(wl.csv)}")
    if corrupt:
        con.execute("UPDATE t SET annual_amount = annual_amount + 1 WHERE contract_id = "
                    "(SELECT min(contract_id) FROM t)")
    sel = ", ".join(f'"{c}"' for c in cols)
    con.execute(f"COPY (SELECT {sel} FROM t WHERE {good}) TO '{out}/part-0.parquet'")
    con.execute(f"COPY (SELECT * FROM t WHERE NOT ({good})) TO '{quarantine}/part-0.parquet'")
    n_out = con.execute(f"SELECT count(*) FROM t WHERE {good}").fetchone()[0]
    con.close()
    n_bad = wl.expected["rows_in"] - n_out
    op.info = {"rows_in": n_out + n_bad, "rows_out": n_out, "rows_quarantined": n_bad}


def test_csv_check_passes_right_output_and_fails_one_wrong_value(tmp_path):
    wl = _csv_workload(tmp_path)
    assert wl.expected["rows_quarantined"] > 0  # the hazards are present
    right, wrong = workloads.Op("measured", 0), workloads.Op("measured", 1)
    _write_reference_output(wl, right, corrupt=False)
    _write_reference_output(wl, wrong, corrupt=True)
    wl.check([right, wrong])
    assert right.error is None
    assert wrong.error and "profile" in wrong.error


def test_dedup_check_fails_a_kept_exact_copy(tmp_path):
    class Small(workloads.DedupStream):
        history_docs = 100
        batch_docs = 40

    wl = Small(str(tmp_path / "cache"), str(tmp_path / "work"), seed=2)
    curated = [(i, t) for i, t in enumerate(wl.history_texts) if i % 50 != 1]
    os.makedirs(wl.curated)
    pq.write_table(pa.table({"doc_id": [i for i, _ in curated], "text": [t for _, t in curated]}),
                   os.path.join(wl.curated, "part-0.parquet"))
    wl.bootstrap = {"n_total": 100, "n_after_exact": 98, "n_after_near_dup": 98, "n_kept": 98}
    ops = [workloads.Op("cold", -1)]
    for k, keep_copies in ((0, False), (1, True)):
        batch = inputs.batch_docs(wl.seed, k, wl.batch_docs, wl.history_texts, 100 + 40 * k)
        wl.batches[k] = batch
        ids, texts, kinds, _ = batch
        keep = [j for j, kind in enumerate(kinds)
                if kind == inputs.FRESH or (keep_copies and kind == inputs.HISTORY_EXACT)]
        part = os.path.join(wl.survivors, f"src_batch={k}")
        os.makedirs(part)
        pq.write_table(pa.table({"doc_id": [ids[j] for j in keep], "text": [texts[j] for j in keep]}),
                       os.path.join(part, "part-0.parquet"))
        assert keep_copies is False or any(kinds[j] == inputs.HISTORY_EXACT for j in keep)
        ops.append(workloads.Op("measured", k))
    wl.check(ops)
    assert [op.error is None for op in ops] == [True, True, False]


def test_failed_check_is_a_failed_operation():
    class Flaky:
        warmup_ops = 2

        def cold(self, spark, op):
            op.seconds = 0.01

        def op(self, spark, op):
            op.seconds, op.rows = 0.01, 1

        def check(self, ops):
            ops[2].error = "wrong result"

        def cleanup(self, op):
            pass

    ops = run.run_loop(Flaky(), None, seconds=0)
    assert [o.phase for o in ops] == ["cold"] + ["warmup"] * 2 + ["measured"] * run.MIN_MEASURED
    assert sum(1 for o in ops if o.error) == 1


# -- the benchmark definition ----------------------------------------------


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == run.layer_metric_names()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
