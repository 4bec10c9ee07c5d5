"""Self-tests of the benchmark: names, generator, span arithmetic, readers.

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import readers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert "setup_s" in run.END_TO_END
    assert {f"{layer}.build_s" for layer in tracing.LAYERS} <= set(run.PER_LAYER)


def _digest(path: str) -> str:
    h = hashlib.sha1()
    root = os.path.join(path, "documents.parquet")
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a, ids_a = gen.generate(str(tmp_path / "a"), 5, 300, 0.1, files=3)
    b, ids_b = gen.generate(str(tmp_path / "b"), 5, 300, 0.1, files=3)
    c, _ = gen.generate(str(tmp_path / "c"), 6, 300, 0.1, files=3)
    assert a == b and ids_a == ids_b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["documents"] == 300 and a["near_dup_share"] == pytest.approx(0.1)
    assert len(os.listdir(tmp_path / "a" / "documents.parquet")) == 3

    import pyarrow.parquet as pq

    table = pq.read_table(str(tmp_path / "a" / "documents.parquet"))
    assert table.num_rows == 300
    assert set(table.column("doc_id").to_pylist()) == set(ids_a)
    assert table.column("n_chars").to_pylist() == [len(t) for t in table.column("text").to_pylist()]


def test_stratified_sample_takes_one_document_per_length_stratum():
    import numpy as np

    lengths = np.arange(100)[::-1]
    rows = gen.stratified(lengths, 10, np.random.default_rng(0))
    assert sorted(lengths[rows] // 10) == list(range(10))


def test_fixed_set_seeds_permute_and_relabel_one_document_set(tmp_path):
    a, ids_a = gen.generate(str(tmp_path / "a"), 1, 200, 0.0, files=2, fixed_set=True)
    b, ids_b = gen.generate(str(tmp_path / "b"), 2, 200, 0.0, files=2, fixed_set=True)
    assert sorted(ids_a.values()) == sorted(ids_b.values()) == sorted(gen.fixed_rows(200).tolist())
    assert ids_a != ids_b and _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))
    assert a["tokens"] == b["tokens"]

    import pyarrow.parquet as pq

    gen.canonical(str(tmp_path / "canon"), list(ids_a.values()))
    canon = pq.read_table(str(tmp_path / "canon" / "documents.parquet")).to_pandas().set_index("doc_id")
    seeded = pq.read_table(str(tmp_path / "a" / "documents.parquet")).to_pandas()
    seeded["doc_id"] = seeded["doc_id"].map(ids_a)
    assert seeded.set_index("doc_id").sort_index().equals(canon.sort_index())


def test_near_copy_edits_a_few_tokens():
    import numpy as np

    text = " ".join(f"w{i}" for i in range(50))
    copy = gen._near_copy(text, ["zz"], np.random.default_rng(0))
    changed = sum(x != y for x, y in zip(text.split(), copy.split()))
    assert len(copy.split()) == 50 and changed == 50 // gen.EDIT_EVERY


def _span(i, start, end, parent=None):
    return tracing.Span(i, f"s{i}", start, end, parent, 1)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 6.0, 1),  # overlaps 2 (another thread)
        _span(4, 8.0, 12.0, 1),  # runs past its parent
        _span(5, 1.5, 2.0, 2),
    ]
    own = tracing.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[2] == pytest.approx(2.5)
    assert own[3] == pytest.approx(3.0)
    assert own[5] == pytest.approx(0.5)


def test_tracer_parents_follow_threads_and_root():
    import threading

    tr = tracing.Tracer()
    with tr.span("outer") as outer:
        tr.root = outer
        with tr.span("inner"):
            pass

        def work():
            with tr.span("worker"):
                pass

        t = threading.Thread(target=work)
        t.start()
        t.join()
        tr.root = None
    parents = {s.name: s.parent for s in tr.spans}
    assert parents["inner"] == outer and parents["worker"] == outer and parents["outer"] is None


def test_parse_metric():
    assert readers.parse_metric("total (min, med, max (stageId: taskId))\n4.5 s (1 ms, 2 ms, 3 s (stage 1.0: task 2))") == 4.5
    assert readers.parse_metric("total (min, med, max (stageId: taskId))\n120 ms (0 ms, 1 ms, 9 ms)") == pytest.approx(0.12)
    assert readers.parse_metric("total (min, med, max)\n64.0 MiB (16.0 MiB, 16.0 MiB, 16.0 MiB)") == 64 * 2**20
    assert readers.parse_metric("1,234") == 1234
    assert readers.parse_metric("") is None


def test_wrapped_layers_unwrap_and_pickle_to_the_plain_function():
    from tscan_spark import corpus

    plain = corpus.load
    unwrap = tracing.wrap_layers(tracing.Tracer())
    try:
        assert corpus.load is not plain and corpus.load.__wrapped__ is plain
        assert pickle.loads(pickle.dumps(corpus.load)) is corpus.load
    finally:
        unwrap()
    assert corpus.load is plain


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(HERE, ".work", f"test-{os.getpid()}")
    run.prepare_env(work)
    _, session = run.start_session()
    yield session
    run.stop_session(session)
    shutil.rmtree(work, ignore_errors=True)


def test_readers_on_a_tiny_query(spark):
    counter = readers.Py4JCounter(spark)
    listener = readers.WriteListener(spark)
    readers.wait_for_listeners(spark)
    m0, cg0 = readers.marks(spark), readers.codegen(spark)
    calls = counter.calls
    df = spark.range(20000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
    assert counter.calls > calls
    counter.remove()
    df.write.format("noop").mode("overwrite").save()
    readers.wait_for_listeners(spark)
    listener.remove()
    m1, cg1 = readers.marks(spark), readers.codegen(spark)

    stages = readers.stage_totals(spark, m0, m1)
    assert stages.jobs >= 1 and stages.stages >= 1 and stages.tasks >= 1
    assert stages.executor_run_s >= 0 and stages.shuffle_write_mb > 0
    nodes = readers.node_totals(spark, m0, m1)
    assert nodes.exchanges >= 1 and "HashAggregate" in nodes.metric_names
    assert nodes.aggregate_peak_mb > 0
    assert len(listener.phases) == 1
    assert set(listener.phases[0]) == {"analysis", "optimization", "planning"}
    assert sum(listener.phases[0].values()) > 0
    assert cg1[0] >= cg0[0]
