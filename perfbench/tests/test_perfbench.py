"""The benchmark's own tests: event-log parsing into the per-layer
metrics, seeded generators, digests and the NumPy references.

Run with ``python3 -m pytest perfbench/tests -q`` (no Spark needed).
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402

LOG_DIR = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def canned():
    """The canned log: span 0 holds jobs 0 and 1, span 1 (nested)
    holds job 0 only."""
    files = tracing.event_log_files(LOG_DIR)
    log = tracing.EventLog(tracing.read_events(files))
    tr = tracing.Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    return log, outer, inner, files


def test_rolling_parts_are_read_in_order(canned):
    _, _, _, files = canned
    assert [os.path.basename(f).split("_")[1] for f in files] == ["1", "2"]


def test_jobs_are_attributed_by_tag_not_description(canned):
    log, outer, inner, _ = canned
    assert [j["id"] for j in log.jobs_for(outer)] == [0, 1]
    assert [j["id"] for j in log.jobs_for(inner)] == [0]
    assert [s["id"] for s in log.sql_for(outer)] == [0, 1]


def test_spark_layer_metrics(canned):
    log, outer, inner, _ = canned
    m = tracing.spark_metrics(log, outer, slots=4)
    assert m["jobs"] == 2 and m["stages"] == 3 and m["tasks"] == 5
    assert m["executor_run_s"] == pytest.approx(2.4)
    assert m["executor_cpu_s"] == pytest.approx(1.8)
    assert m["gc_s"] == pytest.approx(0.03)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(3.0)
    assert m["task_failures"] == 1
    # stage walls 0.5 + 1.0 + 0.3 s over 4 slots
    assert m["slot_idle_ratio"] == pytest.approx(1 - 2.4 / 7.2)
    assert tracing.spark_metrics(log, inner, slots=4)["tasks"] == 3


def test_stage_classes(canned):
    log, outer, inner, _ = canned
    assert tracing.single_task_stage_s(log, outer) == pytest.approx(1.5)
    assert [s["id"] for s in tracing.scan_stages(log, inner)] == [0]
    gm = tracing.grouped_map_stages(log, outer)
    assert [s["id"] for s in gm] == [1]
    assert tracing.task_quantiles(gm) == (1, pytest.approx(1.0), pytest.approx(1.0))


def test_sql_row_metrics(canned):
    log, outer, _, _ = canned
    # the lineage append is not a stage-output write
    assert len(tracing.write_nodes(log, outer)) == 1
    assert tracing.write_seconds(log, outer) == pytest.approx(2.0)
    assert tracing.rows_written(log, outer) == 25
    assert tracing.join_rows(log, outer, "cell_id") == 60
    assert tracing.anti_join_rows(log, outer) == (25, 25)
    assert tracing.node_rows(log, outer, "Filter") == 25
    lineage_write = log.sql[1]["plan"]
    assert log.metric(lineage_write, "number of output rows") == 4  # task + driver updates


def test_pages_are_seeded():
    a = inputs.make_pages(7, 300)
    b = inputs.make_pages(7, 300)
    c = inputs.make_pages(8, 300)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.column_names == ["url", "warc_ts", "html", "text", "lang"]
    ids, lat, lon = inputs.page_points(a)
    assert len(set(ids.tolist())) == 300
    assert np.all(np.abs(lat) <= 31) and np.all(np.abs(lon) <= 31)
    # the text embeds the same coordinates as the url
    t = a.column("text")[0].as_py()
    assert f"({lat[0]:.5f}, {lon[0]:.5f})" in t


def test_corpus_is_seeded_and_planted():
    d1, e1 = inputs.make_corpus(3, 400)
    d2, e2 = inputs.make_corpus(3, 400)
    assert d1.equals(d2) and e1.equals(e2)
    assert not d1.equals(inputs.make_corpus(4, 400)[0])
    texts = d1.column("text").to_pylist()
    assert any("@example.com" in t for t in texts)
    lines = [ln for t in texts for ln in t.split("\n")]
    assert len(lines) > len(set(lines))  # shared boilerplate lines
    grams = {" ".join(t.split()[:8]) for t in e1.column("text").to_pylist()}
    assert any(g in t for t in texts for g in grams)


def _write_parts(root, rows, n_parts, seed):
    order = np.random.default_rng(seed).permutation(len(rows))
    for k, chunk in enumerate(np.array_split(order, n_parts)):
        d = os.path.join(root, f"_pk={k}")
        os.makedirs(d, exist_ok=True)
        part = pa.table({"x": [rows[i][0] for i in chunk], "y": [rows[i][1] for i in chunk]})
        pq.write_table(part, os.path.join(d, f"part-{k:05d}.parquet"))


def test_digest_is_stable_across_partition_counts(tmp_path):
    rows = [(i, float(i) / 7) for i in range(200)]
    digests = set()
    for n_parts, seed in ((1, 0), (4, 1), (13, 2)):
        root = str(tmp_path / f"p{n_parts}")
        _write_parts(root, rows, n_parts, seed)
        t = checks.read_stage(root).to_pydict()
        digests.add(checks.rows_digest(zip(t["x"], t["y"])))
        assert checks.stage_rows(root) == 200
    assert len(digests) == 1
    assert checks.rows_digest(rows[:-1]) not in digests


def test_files_digest_sees_changed_bytes(tmp_path):
    root = str(tmp_path)
    _write_parts(os.path.join(root, "s"), [(1, 1.0), (2, 2.0)], 2, 0)
    before = checks.files_digest(root, ["s"])
    assert checks.files_digest(root, ["s"]) == before
    _write_parts(os.path.join(root, "s"), [(1, 1.0), (2, 2.5)], 2, 0)
    assert checks.files_digest(root, ["s"]) != before


def test_ray_cast_counts_edges_as_inside():
    ring = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]
    rx = np.array([p[0] for p in ring])
    ry = np.array([p[1] for p in ring])
    px = np.array([1.0, 0.0, 2.0, 1.0, 2.5, -0.1])
    py = np.array([1.0, 0.0, 1.0, 2.0, 1.0, 1.0])
    assert checks.ray_cast(px, py, rx, ry).tolist() == [True, True, True, True, False, False]
    pairs = checks.pip_reference(["a", "b"], np.array([1.0, 3.0]), np.array([1.0, 3.0]),
                                 [(7, "sq", "cell", ring)])
    assert pairs == {("a", 7)}


def test_tile_keys_follow_the_halo():
    # lon 0, lat 0 is the corner of four z1 tiles: pixel (256, 256)
    keys = checks.tile_keys_reference(np.array([0.0]), np.array([0.0]), 1, 0)
    assert keys == {(1, 1)}
    keys = checks.tile_keys_reference(np.array([0.0]), np.array([0.0]), 1, 1)
    assert keys == {(0, 0), (0, 1), (1, 0), (1, 1)}
    # x wraps at the antimeridian
    keys = checks.tile_keys_reference(np.array([10.0]), np.array([-180.0]), 1, 1)
    assert (1, 0) in keys and (0, 0) in keys


def test_grouped_map_stages_leave_out_cache_reads():
    """A stage that reads a persisted grouped-map output carries the
    grouped map's scope too, but does not run the UDF."""
    def stage(sid, scopes):
        rdds = [{"Name": "MapPartitionsRDD", "Scope": json.dumps({"id": str(k), "name": n})}
                for k, n in enumerate(scopes)]
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Number of Tasks": 8, "Submission Time": 1000,
                               "Completion Time": 1000 + 250 * (sid + 1), "RDD Info": rdds}}

    log = tracing.EventLog([
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": "pb-span-0"}},
        stage(0, ["Exchange", "FlatMapGroupsInPandas"]),
        stage(1, ["InMemoryTableScan", "FlatMapGroupsInPandas", "ObjectHashAggregate"]),
    ])
    span = {"tag": "pb-span-0"}
    gm = tracing.grouped_map_stages(log, span)
    assert [s["id"] for s in gm] == [0]
    assert tracing.stage_wall(gm) == pytest.approx(0.25)
