from __future__ import annotations

import os

import pytest

from casf_spark.functions import text as TX
from casf_spark.sources import (read_stopwords, read_text_documents,
                                read_text_lines, write_parquet)


def test_text_sources_roundtrip(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("hello world\nsecond line")
    (d / "b.txt").write_text("another document")

    lines = read_text_lines(spark, str(d))
    assert lines.count() == 3
    assert lines.columns == ["line"]

    docs = read_text_documents(spark, str(d))
    got = {os.path.basename(r.doc_id): r.text for r in docs.collect()}
    assert got["a.txt"] == "hello world\nsecond line"
    assert got["b.txt"] == "another document"


def test_stopwords_file_feeds_antijoin(spark, tmp_path):
    sw_file = tmp_path / "stop.txt"
    sw_file.write_text("the\n a \n\nand\n")
    sw = read_stopwords(spark, str(sw_file))
    assert {r.word for r in sw.collect()} == {"the", "a", "and"}

    docs = spark.createDataFrame([(1, "the cat and the hat")],
                                 "doc_id long, text string")
    tc = TX.term_counts(docs, "doc_id", "text", stopwords=sw)
    assert {r.x for r in tc.collect()} == {"cat", "hat"}


def test_partitioned_parquet_write(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "en", "x"), (2, "en", "y"), (3, "fr", "z")],
        "id long, lang string, text string")
    out = str(tmp_path / "out")
    write_parquet(df, out, partition_by=["lang"])
    assert os.path.isdir(f"{out}/lang=en")
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: only the en directory is read
    pruned = back.where("lang = 'en'")
    assert pruned.count() == 2


def test_demo_example_runs(spark, sf_dir):
    import subprocess
    import sys
    res = subprocess.run(
        [sys.executable, "examples/keywords_demo.py", sf_dir],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert res.returncode == 0, res.stderr[-2000:]
    assert "similarity_value" in res.stdout


def test_web_curation_demo_runs(spark, sf_dir):
    import subprocess
    import sys
    res = subprocess.run(
        [sys.executable, "examples/web_curation_demo.py", sf_dir],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert res.returncode == 0, res.stderr[-2000:]
    assert "per-domain triage" in res.stdout
    assert "crawled:" in res.stdout


def _write_events_fixture(tmp_path, unit):
    """Write a tiny events.parquet with ts encoded at the given resolution
    (the driver has generated both TIMESTAMP(NANOS) and timestamp[us]
    between rounds — load_table must accept either)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [base + datetime.timedelta(minutes=m) for m in (0, 30, 90)]
    table = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(rows, pa.timestamp(unit)),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["view", "click", "view"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(['{"k": 1}', "{}", "{}"]),
    })
    d = tmp_path / f"events_{unit}"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"),
                   version="2.6", coerce_timestamps=None)
    return str(d)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_events_either_ts_encoding(spark, tmp_path, unit):
    from pyspark.sql.types import TimestampType

    from casf_spark.sources.tables import load_table

    df = load_table(spark, _write_events_fixture(tmp_path, unit), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = sorted(r.ts for r in df.select("ts").collect())
    assert [t.minute for t in got] == [0, 30, 30]
    assert [t.hour for t in got] == [0, 0, 1]


def test_load_events_struct_props(spark, tmp_path):
    """A generation that stores `props` as a parquet struct must load as a
    JSON string (get_json_object is the consumer contract)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from casf_spark.sources.tables import load_table

    base = datetime.datetime(2024, 1, 1)
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([base, base], pa.timestamp("us")),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["view", "click"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array([{"k": 7}, {"k": None}],
                          pa.struct([("k", pa.int64())])),
    })
    d = tmp_path / "events_struct"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))

    df = load_table(spark, str(d), "events")
    assert isinstance(df.schema["props"].dataType, StringType)
    got = {r.event_id: r.k for r in df.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k")).collect()}
    assert got[1] == "7"


def test_embedding_demo_runs(spark, sf_dir):
    """examples/embedding_demo.py main() executes end to end."""
    import runpy
    import sys

    argv = sys.argv
    sys.argv = ["embedding_demo.py", sf_dir]
    try:
        runpy.run_path("examples/embedding_demo.py", run_name="__main__")
    finally:
        sys.argv = argv


def test_ops_demo_runs(spark, sf_dir):
    """examples/ops_demo.py main() executes end to end."""
    import runpy
    import sys

    argv = sys.argv
    sys.argv = ["ops_demo.py", sf_dir]
    try:
        runpy.run_path("examples/ops_demo.py", run_name="__main__")
    finally:
        sys.argv = argv


def test_training_prep_demo_runs(spark, sf_dir):
    """examples/training_prep.py (curate -> chunk -> pack -> shard ->
    observed write) executes end to end."""
    import runpy
    import sys

    argv = sys.argv
    sys.argv = ["training_prep.py", sf_dir]
    try:
        runpy.run_path("examples/training_prep.py", run_name="__main__")
    finally:
        sys.argv = argv


def test_orc_round_trip(spark, sf_dir, tmp_path):
    """Format breadth: ORC write/read round-trips the region table with
    schema and values intact (ORC ships in the Spark distribution; the
    engine is format-agnostic wherever `spark.read` is)."""
    from casf_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "region_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, src.collect()))


def test_csv_round_trip_with_schema(spark, sf_dir, tmp_path):
    """CSV write/read with an explicit schema round-trips the nation
    table (header on, explicit schema so types survive — schema
    inference is a scan you don't pay twice at scale)."""
    from casf_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    src.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(src.schema).option("header", True).csv(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, src.collect()))


def test_scan_spread_fires_on_small_single_rowgroup_input(spark, tmp_path,
                                                          monkeypatch):
    """Optimization seam (sources.tables._spread_unsplittable_scan):
    parquet row groups are split-atomic, so a single-row-group file
    yields a single non-empty scan task and every downstream map stage
    runs on one core. The spread must repartition such inputs
    WORK-PROPORTIONALLY (r14): one task per SPREAD_ROWS_PER_TASK rows,
    capped at defaultParallelism — spreading a tiny corpus to full core
    count taxed every light consumer with more per-task overhead than
    work (r13 driver bench). Rows unchanged; kill switch honored; a
    corpus below one task's worth of rows is left alone."""
    from casf_spark.sources.tables import _spread_unsplittable_scan

    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD", raising=False)
    cores = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "one_rowgroup.parquet")
    n_rows = 512 * (cores + 2)  # wants cores+2 tasks -> capped at cores
    (spark.range(n_rows).coalesce(1)
     .write.mode("overwrite").parquet(out))
    df = spark.read.parquet(out)
    assert df.rdd.getNumPartitions() < cores  # premise: unsplittable
    spread = _spread_unsplittable_scan(spark, df, out)
    assert spread.rdd.getNumPartitions() == cores  # rows/512 capped

    # work-proportional: half a core-count's worth of rows -> half the
    # tasks, not core count
    small = str(tmp_path / "small.parquet")
    (spark.range(512 * max(2, cores // 2)).coalesce(1)
     .write.mode("overwrite").parquet(small))
    sdf = spark.read.parquet(small)
    sspread = _spread_unsplittable_scan(spark, sdf, small)
    assert sspread.rdd.getNumPartitions() == max(2, cores // 2)

    # below one task's worth of rows: left alone entirely
    tiny = str(tmp_path / "tiny.parquet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(tiny)
    tdf = spark.read.parquet(tiny)
    assert _spread_unsplittable_scan(spark, tdf, tiny) is tdf

    monkeypatch.setenv("SPARK_GRAFT_NO_SPREAD", "1")
    assert _spread_unsplittable_scan(spark, df, out) is df

    # rows identical (round-robin only moves rows)
    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD", raising=False)
    assert sorted(r.id for r in spread.collect()) == list(range(n_rows))


def test_scan_spread_noop_when_scan_already_parallel(spark, tmp_path,
                                                     monkeypatch):
    """The spread is scale-adaptive: an input whose scan already reaches
    core-count splits (here: >= cores parquet row groups via many files)
    is left alone — at 100 TB the function is a no-op by the size guard
    or, below it, by the row-group probe."""
    from casf_spark.sources.tables import _spread_unsplittable_scan

    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD", raising=False)
    cores = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "many_files.parquet")
    (spark.range(cores * 10).repartition(cores)
     .write.mode("overwrite").parquet(out))
    df = spark.read.parquet(out)
    spread = _spread_unsplittable_scan(spark, df, out)
    assert spread is df  # returned untouched: no repartition node added
