"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q

The Spark test starts a ``local[2]`` session and takes about a minute.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_events_generator_is_byte_identical_per_seed(tmp_path):
    kw = {"rows_per_replica": 5000, "replicas": 2, "dirty_frac": 0.01}
    a = gen.write_events(str(tmp_path / "a.parquet"), 7, **kw)
    b = gen.write_events(str(tmp_path / "b.parquet"), 7, **kw)
    c = gen.write_events(str(tmp_path / "c.parquet"), 8, **kw)
    assert _digest(tmp_path / "a.parquet") == _digest(tmp_path / "b.parquet")
    assert _digest(tmp_path / "a.parquet") != _digest(tmp_path / "c.parquet")
    assert a == b
    assert a["dirty_rows"] == 100 and sum(a["dirty_kinds"].values()) == 100


def test_replicas_keep_user_blocks_disjoint():
    table, _ = gen.events_table(3, rows_per_replica=1000, replicas=3)
    users = table.column("user_id").to_pylist()
    for r in range(3):
        block = users[r * 1000:(r + 1) * 1000]
        assert min(block) >= r * 1500 and max(block) < (r + 1) * 1500


def test_stream_slices_are_seeded_and_partition_the_table(tmp_path):
    a, info = gen.stream_slices(5, n_slices=4, rows=2000)
    b, _ = gen.stream_slices(5, n_slices=4, rows=2000)
    c, _ = gen.stream_slices(6, n_slices=4, rows=2000)
    for i, (x, y) in enumerate(zip(a, b)):
        gen.write_table(x, str(tmp_path / f"a{i}.parquet"))
        gen.write_table(y, str(tmp_path / f"b{i}.parquet"))
        assert _digest(tmp_path / f"a{i}.parquet") == _digest(tmp_path / f"b{i}.parquet")
    assert [s.num_rows for s in a] != [s.num_rows for s in c]
    ids = sorted(i for s in a for i in s.column("event_id").to_pylist())
    assert ids == list(range(2000)) and sum(info["slice_rows"]) == 2000


def test_documents_generator_is_byte_identical_per_seed(tmp_path):
    kw = {"n_docs": 400, "near_dup_frac": 0.1, "dup_below": 300}
    a = gen.write_documents(str(tmp_path / "a.parquet"), 7, **kw)
    b = gen.write_documents(str(tmp_path / "b.parquet"), 7, **kw)
    gen.write_documents(str(tmp_path / "c.parquet"), 8, **kw)
    assert _digest(tmp_path / "a.parquet") == _digest(tmp_path / "b.parquet")
    assert _digest(tmp_path / "a.parquet") != _digest(tmp_path / "c.parquet")
    assert a == b and a["near_dups"] == 30


def test_documents_plant_near_duplicates_below_the_dedup_ids():
    table, _ = gen.documents_table(5, n_docs=400, near_dup_frac=0.2, dup_below=100)
    texts = table.column("text").to_pylist()
    assert table.column("doc_id").to_pylist() == list(range(400))
    one_word_apart = sum(
        1 for i in range(100) for j in range(100)
        if i < j and len(texts[i].split()) == len(texts[j].split())
        and sum(x != y for x, y in zip(texts[i].split(), texts[j].split())) <= 1
    )
    assert one_word_apart >= 10


def test_result_digest_ignores_row_and_column_order():
    a = oracle.result_digest(["b", "a"], [(1, 0.1234567), (2, None)])
    b = oracle.result_digest(["a", "b"], [(None, 2), (0.12345671, 1)])
    assert a == b and a[0] == 2
    assert a != oracle.result_digest(["a", "b"], [(None, 2), (0.5, 1)])


def _span(sid, name, start, end, parent=None):
    return tracing.Span(name, start, end, parent, op=0, sid=sid)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "plans.a", 1.0, 4.0, parent=0),
        _span(2, "sources.b", 3.0, 6.0, parent=0),  # overlaps plans.a
        _span(3, "sources.c", 2.0, 3.0, parent=1),  # grandchild of op
        _span(4, "sources.b", 8.0, 9.0, parent=0),
    ]
    st = tracing.self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [8,9]
    assert st["plans.a"] == pytest.approx(3.0 - 1.0)
    assert st["sources.b"] == pytest.approx(3.0 + 1.0)
    assert st["sources.c"] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, "op", 0.0, 2.0), _span(1, "x", 1.5, 3.0, parent=0)]
    st = tracing.self_times(spans)
    assert st["op"] == pytest.approx(1.5)
    assert st["x"] == pytest.approx(1.5)


def test_union_length():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_spans_nest_by_call_stack():
    spans = tracing.Spans()
    with spans.span("op", 0):
        with spans.span("a", 0):
            pass
        with spans.span("b", 0):
            pass
    op, a, b = spans.spans
    assert (op.parent, a.parent, b.parent) == (None, op.sid, op.sid)
    assert op.start <= a.start <= a.end <= b.start <= b.end <= op.end


def test_job_summary_arithmetic():
    jobs = [tracing.Job(0, 10.0, 11.0, []), tracing.Job(1, 10.5, 12.0, []),
            tracing.Job(2, 13.0, 13.5, [])]
    stages = {k: 0.0 for k in tracing.STAGE_FIELDS}
    stages.update(stages=4, executor_run_s=6.0)
    out = tracing.job_summary(jobs, stages, wall_s=5.0, cores=4)
    assert out["spark.jobs"] == 3
    assert out["spark.job_busy_s"] == pytest.approx(2.5)
    assert out["driver.self_s"] == pytest.approx(2.5)
    assert out["spark.busy_frac"] == pytest.approx(6.0 / (2.5 * 4))
    assert [j.job_id for j in tracing.jobs_in(jobs, 10.4, 12.9)] == [1]


def test_traced_ops_repeat_job_and_shuffle_counts(tmp_path, monkeypatch):
    """Two traced etl_batch ops on the same seeded input run the same
    jobs and stages and move the same shuffle bytes; two curation passes
    run the same jobs per query."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "spark-local"))
    import run
    import workloads

    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "tmp"))
    spark = run.start_spark(work)
    try:
        wl = workloads.EtlBatch()
        wl.sizes = {"rows_per_replica": 5000, "replicas": 2, "dirty_frac": 0.01}
        wl.prepare(spark, work, 11)
        jobs = tracing.SparkJobs(spark)
        tracer = run.Tracer(tracing.Spans())
        counts = []
        for i in range(3):
            wl.before_op(i, False)
            jobs.take_new()
            res = wl.op(i, tracer)
            assert wl.check(i, res)
            new = jobs.take_new()
            s = tracing.job_summary(new, jobs.stage_totals(new), 1.0, 2)
            counts.append((s["spark.jobs"], s["spark.stages"],
                           s["spark.shuffle_write_mb"], s["spark.shuffle_read_mb"]))
            wl.after_op(i)
        # the first op pays one-off work; the next two must agree exactly
        assert counts[1] == counts[2]
        assert counts[1][0] > 0

        cur = workloads.CurationSmall()
        cur.sizes = {"n_docs": 300, "near_dup_frac": 0.1, "dup_below": 300}
        cur.prepare(spark, os.path.join(work, "cur"), 11)
        per_query = []
        for i in range(3):
            jobs.take_new()
            res = cur.op(i, tracer)
            assert cur.check(i, res)
            new = jobs.take_new()
            per_query.append({
                q: len(tracing.jobs_in(new, sp.start, sp.end))
                for q, (sp, _, _) in res.detail["spans"].items()
            })
        assert per_query[1] == per_query[2]
        assert all(n > 0 for n in per_query[1].values())
    finally:
        run.stop_spark()
