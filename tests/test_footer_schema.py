"""Pins for tables.read_parquet — the read schema built from the parquet
footer on the driver instead of Spark's schema-inference job.

Guard: wherever the footer path is taken, its schema equals what
``spark.read.parquet(path).schema`` infers, under both settings of the
two confs Spark's parquet converter follows; every layout outside the
mapped set takes the inference fallback and still equals inference.
Zero-job pins: table loads and the streaming replay's schema read run
no Spark job, and a star-pipeline run reads its mart back once.
"""

from __future__ import annotations

import datetime as dt
import glob
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader

from etl_intraday_bidask_spark import tables
from etl_intraday_bidask_spark.plans.pipeline import build_star_pipeline
from etl_intraday_bidask_spark.streaming import replay
from tests.conftest import SF_SMALL

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"

_TS = [dt.datetime(2024, 1, 1, 12, 30), None]

# One file per mapped (physical, logical) pair.
MAPPED = {
    "int32": pa.array([1, None], pa.int32()),
    "int64": pa.array([1, None], pa.int64()),
    "float": pa.array([1.5, None], pa.float32()),
    "double": pa.array([1.5, None], pa.float64()),
    "boolean": pa.array([True, None], pa.bool_()),
    "string": pa.array(["a", None], pa.string()),
    "date": pa.array([dt.date(2024, 1, 1), None], pa.date32()),
    **{
        f"ts_{unit}_{tz or 'ntz'}": pa.array(_TS, pa.timestamp(unit, tz=tz))
        for unit in ("ms", "us", "ns")
        for tz in ("UTC", None)
    },
    "list_float": pa.array([[1.0, None], None], pa.list_(pa.float32())),
    "list_double": pa.array([[1.0], None], pa.list_(pa.float64())),
    "list_required_element": pa.array(
        [[1.0]], pa.list_(pa.field("element", pa.float64(), nullable=False))
    ),
}

# Layouts outside the mapped set, written with pyarrow.
UNMAPPED = {
    "decimal": pa.array([1, None], pa.decimal128(10, 2)),
    "struct": pa.array([{"a": 1}, None], pa.struct([("a", pa.int64())])),
    "map": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
    "binary": pa.array([b"x", None], pa.binary()),
    "int8": pa.array([1, None], pa.int8()),
}


@pytest.fixture(
    params=[(a, b) for a in ("true", "false") for b in ("true", "false")],
    ids=lambda p: f"nanosAsLong={p[0]},inferNTZ={p[1]}",
)
def confs(spark, request):
    saved = {k: spark.conf.get(k) for k in (NANOS_AS_LONG, INFER_NTZ)}
    spark.conf.set(NANOS_AS_LONG, request.param[0])
    spark.conf.set(INFER_NTZ, request.param[1])
    yield request.param
    for k, v in saved.items():
        spark.conf.set(k, v)


def _write(path, arr, **kw) -> str:
    table = pa.table({"id": pa.array([1] * len(arr)), "c": arr})
    pq.write_table(table, path, **kw)
    return str(path)


def _inferred(spark, path):
    """Spark's inferred schema, or the exception inference raises."""
    try:
        return spark.read.parquet(path).schema
    except Exception as e:  # noqa: BLE001 - compared by class below
        return e


def _assert_same_as_inference(spark, path, *, footer: bool):
    assert (tables._footer_schema(spark, path) is not None) is footer, path
    want = _inferred(spark, path)
    if isinstance(want, Exception):
        # Inference rejects the file (ns timestamps without nanosAsLong):
        # read_parquet must take the fallback and raise the same way.
        with pytest.raises(type(want)):
            tables.read_parquet(spark, path)
    else:
        assert tables.read_parquet(spark, path).schema == want, path


def test_fixture_files_match_inference(spark, confs):
    files = sorted(glob.glob("/root/testdata/sf*/*.parquet"))
    assert files
    for path in files:
        _assert_same_as_inference(spark, path, footer=True)


@pytest.mark.parametrize("name", sorted(MAPPED))
def test_mapped_types_match_inference(spark, confs, tmp_path, name):
    path = _write(tmp_path / f"{name}.parquet", MAPPED[name])
    rejected = name.startswith("ts_ns") and confs[0] == "false"
    _assert_same_as_inference(spark, path, footer=not rejected)
    if not rejected:
        df = tables.read_parquet(spark, path)
        assert df.count() == len(MAPPED[name])


@pytest.mark.parametrize("name", sorted(UNMAPPED))
def test_unmapped_types_fall_back(spark, confs, tmp_path, name):
    path = _write(tmp_path / f"{name}.parquet", UNMAPPED[name])
    _assert_same_as_inference(spark, path, footer=False)


def test_int96_falls_back(spark, confs, tmp_path):
    path = _write(
        tmp_path / "int96.parquet",
        pa.array(_TS, pa.timestamp("ns")),
        use_deprecated_int96_timestamps=True,
    )
    _assert_same_as_inference(spark, path, footer=False)


def test_non_standard_lists_fall_back(spark, confs, tmp_path):
    # A 3-level list whose element is not named "element" (pyarrow's
    # non-compliant layout) ...
    item = _write(
        tmp_path / "item_list.parquet",
        pa.array([[1.0]], pa.list_(pa.float64())),
        use_compliant_nested_type=False,
    )
    _assert_same_as_inference(spark, item, footer=False)
    # ... and a legacy 2-level list (repeated primitive directly under
    # the LIST group), which pyarrow cannot write: use parquet-mr.
    jvm = spark.sparkContext._jvm
    path = str(tmp_path / "two_level.parquet")
    schema = jvm.org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { optional group c (LIST) { repeated double array; } }"
    )
    writer = (
        jvm.org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
            jvm.org.apache.hadoop.fs.Path(path)
        )
        .withType(schema)
        .build()
    )
    row = jvm.org.apache.parquet.example.data.simple.SimpleGroupFactory(
        schema
    ).newGroup()
    row.addGroup("c").append("array", 1.5)
    writer.write(row)
    writer.close()
    _assert_same_as_inference(spark, path, footer=False)


def test_spark_written_file_and_directory_fall_back(spark, confs, tmp_path):
    out = str(tmp_path / "spark_out")
    spark.range(3).selectExpr("id", "cast(id AS string) AS s").coalesce(
        1
    ).write.parquet(out)
    (part,) = glob.glob(f"{out}/part-*.parquet")
    _assert_same_as_inference(spark, part, footer=False)
    _assert_same_as_inference(spark, out, footer=False)


def test_unreadable_footer_falls_back(spark, tmp_path):
    path = tmp_path / "not_parquet.parquet"
    path.write_text("not a parquet file\n")
    _assert_same_as_inference(spark, str(path), footer=False)


def _assert_no_jobs(spark, fn) -> None:
    """Run ``fn`` under a fresh job group and assert it started no job.

    The status tracker fills from the listener bus asynchronously, in
    job-submission order. So a control read (one inference job, under a
    second group) runs after ``fn``; once the control's job is visible,
    any job ``fn`` started is visible too.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, control = (f"footer_pin_{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(group, "zero-job pin")
        fn()
        sc.setJobGroup(control, "zero-job pin control")
        spark.read.parquet(f"{SF_SMALL}/region.parquet")
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(control):
            assert time.monotonic() < deadline, "control job never surfaced"
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_table_loads_run_no_job(spark, monkeypatch):
    monkeypatch.setattr(spark, "_etl_graft_load_memo", {}, raising=False)
    _assert_no_jobs(spark, lambda: tables.load_all(spark, SF_SMALL))
    assert set(tables.load_memo(spark)) == {
        (SF_SMALL, t) for t in tables.TABLE_NAMES
    }


def test_replay_schema_read_runs_no_job(spark):
    _assert_no_jobs(spark, lambda: replay._read_events_stream(spark, SF_SMALL))


def test_star_pipeline_reads_mart_back_once(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "mart")
    reads = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.extend(p for p in paths if p.startswith(out))
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    ctx = build_star_pipeline(SF_SMALL, out).run(spark)
    assert len(reads) == 1
    monkeypatch.undo()
    mart = ctx["read_mart"]
    assert mart.schema == spark.read.parquet(ctx["load_mart"]).schema
    assert ctx["serve"].count() > 0
