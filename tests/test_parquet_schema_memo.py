"""The parquet schema memo behind load_table and the index/snapshot reads
(sources/readers.read_parquet): a repeated read of an unchanged file runs no
Spark job and returns what a plain ``spark.read.parquet`` returns; a changed
file is inferred again; the events timestamp and the IVF index's partition
column come back the same on every read; catalog queries still match DuckDB
with the memo warm."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_MEDIUM
from vectordb_bioinsight_spark.sources.readers import load_table, read_parquet


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran under a fresh job group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(n, extra=False):
    cols = {
        "id": pa.array(range(n), pa.int64()),
        "name": pa.array([f"n{i}" for i in range(n)]),
        "price": pa.array([i * 0.5 for i in range(n)]),
    }
    if extra:
        cols["flag"] = pa.array([i % 2 == 0 for i in range(n)])
    return pa.table(cols)


def test_second_load_runs_no_job_and_matches_plain_read(spark, tmp_path):
    pq.write_table(_table(50), tmp_path / "t.parquet")
    first, first_jobs = _jobs(spark, "memo-first", lambda: load_table(spark, str(tmp_path), "t"))
    again, again_jobs = _jobs(spark, "memo-again", lambda: load_table(spark, str(tmp_path), "t"))
    plain = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert first_jobs >= 1  # the first read infers the schema with a job
    assert again_jobs == 0
    assert again.schema == first.schema == plain.schema
    assert sorted(again.collect()) == sorted(plain.collect())


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(_table(20), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "name", "price"]
    load_table(spark, str(tmp_path), "t")  # memo hit
    pq.write_table(_table(30, extra=True), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "name", "price", "flag"]
    assert df.count() == 30 and df.filter("flag").count() == 15


def test_directory_with_a_new_file_is_inferred_again(spark, tmp_path):
    """A directory's fingerprint covers every listed file: a file added with
    a wider schema is seen (mergeSchema on, as the key records it); hidden
    and underscore files are ignored, as Spark ignores them."""
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(_table(10), d / "part-0.parquet")
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        assert read_parquet(spark, str(d)).columns == ["id", "name", "price"]
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-0.parquet.crc").write_bytes(b"x")
        _, jobs = _jobs(spark, "memo-dir-hidden", lambda: read_parquet(spark, str(d)))
        assert jobs == 0
        pq.write_table(_table(5, extra=True), d / "part-1.parquet")
        df = read_parquet(spark, str(d))
        assert df.columns == ["id", "name", "price", "flag"] and df.count() == 15
    finally:
        spark.conf.unset(key)
    # the setting is part of the key: without mergeSchema Spark infers anew
    assert read_parquet(spark, str(d)).schema == spark.read.parquet(str(d)).schema


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_type_is_stable_across_reads(spark, tmp_path, unit):
    """``events.ts`` is a session timestamp on the first and every later
    read, for microsecond and nanosecond parquet timestamps, and reading
    leaves the session's nanos-as-long setting as it was."""
    base = 1_700_000_000_123_456_789
    ts = [base + i * 1_000_001_001 for i in range(5)]
    if unit == "us":
        ts = [t // 1000 for t in ts]
    pq.write_table(
        pa.table({"event_id": pa.array(range(5), pa.int64()), "ts": pa.array(ts, pa.timestamp(unit))}),
        tmp_path / "events.parquet",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    reads = [load_table(spark, str(tmp_path), "events") for _ in range(3)]
    types = [df.schema["ts"].dataType.simpleString() for df in reads]
    assert types == ["timestamp"] * 3
    rows = [sorted(df.collect()) for df in reads]
    assert rows[0] == rows[1] == rows[2]
    _, jobs = _jobs(spark, f"memo-events-{unit}", lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert spark.conf.get(key) == before


def test_load_missing_table_raises_and_keeps_session_settings(spark, tmp_path):
    """A table that is not there raises Spark's error and changes no
    session setting."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "nope")
    assert spark.conf.get(key) == before


def test_reloaded_ivf_index_keeps_schema_and_partition_pruning(spark, tmp_path):
    from vectordb_bioinsight_spark.sources.ann_store import (
        load_ivf_index,
        probed_cells_scan,
        save_ivf_index,
    )

    assigned = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 4) for i in range(40)], "cand_id long, v array<double>, _cell int"
    )
    centroids = spark.createDataFrame([(c, [float(c), 1.0]) for c in range(4)], "_cell int, _centroid array<double>")
    path = str(tmp_path / "index")
    save_ivf_index(path, assigned, centroids, codebook=[[[0.0], [1.0]], [[2.0], [3.0]]])
    first = load_ivf_index(spark, path)
    again, jobs = _jobs(spark, "memo-ivf-reload", lambda: load_ivf_index(spark, path))
    plain = spark.read.parquet(os.path.join(path, "v0", "assigned"))
    assert jobs == 1  # the codebook collect; no schema inference
    assert again[0].schema == first[0].schema == plain.schema
    assert again[0].columns[-1] == "_cell"
    assert again[1].schema == first[1].schema
    assert again[2] == first[2] == [[[0.0], [1.0]], [[2.0], [3.0]]]
    scan = probed_cells_scan(again[0], [1, 3])
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "_cell" in seg, seg
    assert sorted(r["cand_id"] for r in scan.collect()) == [i for i in range(40) if i % 4 in (1, 3)]


def test_remote_uris_are_not_memoized(spark, tmp_path, monkeypatch):
    """Only local paths are fingerprinted; any other scheme is read plainly."""
    from vectordb_bioinsight_spark.sources import readers

    calls = []
    monkeypatch.setattr(readers, "_fingerprint", lambda p: calls.append(p) or ())
    pq.write_table(_table(3), tmp_path / "t.parquet")
    uri = "file://" + str(tmp_path / "t.parquet")
    assert read_parquet(spark, uri).count() == 3
    assert calls == [str(tmp_path / "t.parquet")]
    with pytest.raises(Exception):
        read_parquet(spark, "memo-test-missing-scheme://nowhere/t.parquet")
    assert len(calls) == 1


BENCHMARK_SUBSET = (
    "pricing_summary",
    "top_brand_revenue",
    "first_order_per_customer",
    "user_event_window_stats",
    "sessionize",
    "wilcoxon_brand_price",
    "part_correlation_network",
    "keyword_topn",
)


@pytest.mark.parametrize("name", BENCHMARK_SUBSET)
def test_catalog_query_matches_oracle_with_warm_memo(spark, name):
    """Each query runs twice at sf0.01, so the second run reads every table
    with a memoized schema; both must match the DuckDB oracle."""
    from vectordb_bioinsight_spark.plans.catalog import CATALOG
    from vectordb_bioinsight_spark.plans.verify import compare, duckdb_connection

    fn, sql = CATALOG[name]
    oracle = duckdb_connection(SF_MEDIUM).execute(sql).fetchdf()
    for _ in range(2):
        problems = compare(fn(spark, SF_MEDIUM), oracle)
        assert not problems, f"{name}: {problems[:3]}"


class _FakeReader:
    """Stands in for ``spark.read``: a plain read returns the path's current
    schema and counts an inference; a read with a schema returns that."""

    def __init__(self, spark, schema=None):
        self._spark, self._schema = spark, schema

    def schema(self, schema):
        return _FakeReader(self._spark, schema)

    def parquet(self, path):
        if self._schema is not None:
            return _FakeFrame(self._schema)
        with self._spark.lock:
            self._spark.inferred += 1
        return _FakeFrame(self._spark.schemas[path])


class _FakeFrame:
    def __init__(self, schema):
        self.schema = schema


class _FakeSpark:
    def __init__(self, schemas):
        import threading
        from types import SimpleNamespace

        self.schemas, self.inferred, self.lock = schemas, 0, threading.Lock()
        self.conf = SimpleNamespace(get=lambda key: "false")
        self.read = _FakeReader(self)


def test_memo_is_bounded_and_thread_safe(tmp_path, monkeypatch):
    """More threads than cores read more files than the memo holds: every
    read gets its own file's schema, the memo never exceeds its bound, and
    a file read again while still held is not inferred again."""
    import sys
    import threading
    import time

    from vectordb_bioinsight_spark.sources import readers

    class YieldingMemo(type(readers._schema_memo)):
        """Gives up the interpreter lock inside each update, so an update
        that is not serialized with the others loses its entry mid-way."""

        def move_to_end(self, *args, **kwargs):
            time.sleep(0)
            return super().move_to_end(*args, **kwargs)

        def popitem(self, *args, **kwargs):
            time.sleep(0)
            return super().popitem(*args, **kwargs)

    monkeypatch.setattr(readers, "_SCHEMA_MEMO_SIZE", 4)
    monkeypatch.setattr(readers, "_schema_memo", YieldingMemo())
    paths = []
    for i in range(12):
        p = tmp_path / f"f{i}.parquet"
        p.write_bytes(b"x" * (i + 1))
        paths.append(str(p))
    spark = _FakeSpark({p: f"schema-{i}" for i, p in enumerate(paths)})
    errors = []

    def worker(seed):
        import random

        rng = random.Random(seed)
        try:
            for _ in range(300):
                i = rng.randrange(len(paths))
                got = read_parquet(spark, paths[i]).schema
                if got != f"schema-{i}":
                    errors.append((paths[i], got))
        except Exception as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(2 * (os.cpu_count() or 2) + 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    assert len(readers._schema_memo) <= 4
    read_parquet(spark, paths[0])
    before = spark.inferred
    read_parquet(spark, paths[0])
    assert spark.inferred == before
