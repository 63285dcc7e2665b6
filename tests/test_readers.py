"""Parquet reads take their schema from the footer: the fast path must
give exactly the schema Spark's own inference gives, or step aside."""

from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataforge_core_spark.loader import load_project
from dataforge_core_spark.sources.readers import footer_schema, read_source

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _spark_schema(spark, path):
    try:
        return spark.read.parquet(path).schema
    except Exception:  # Spark cannot read it at all
        return None


def _assert_parity(spark, path):
    fs = footer_schema(spark, path)
    if fs is not None:
        assert fs == _spark_schema(spark, path), path
    return fs


@pytest.fixture
def ntz_setting(spark):
    prev = spark.conf.get(NTZ)
    yield
    spark.conf.set(NTZ, prev)


def test_footer_schema_matches_spark_on_repo_data(spark, sf_dir, tmp_path,
                                                  ntz_setting):
    """Every parquet file of the test data and every file the
    benchmark's generator writes: the footer schema is Spark's, under
    both timestamp-inference settings, and the fast path engages for
    every flat table."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import datagen
    finally:
        sys.path.pop(0)
    gen = str(tmp_path / "gen")
    datagen.write_tpch(gen, 3, 0.001)
    datagen.write_corpus(gen, 3, 0.001)
    datagen.write_upsert_batch(gen, os.path.join(gen, "batch.parquet"),
                               3, 0, 20)
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    paths += sorted(glob.glob(os.path.join(gen, "*.parquet")))
    assert len(paths) > 20
    for ntz in ("true", "false"):
        spark.conf.set(NTZ, ntz)
        fast = [p for p in paths if _assert_parity(spark, p) is not None]
        # only the embeddings tables (a list column) fall back
        assert {os.path.basename(p) for p in paths if p not in fast} == {
            "embeddings.parquet"
        }


def test_read_source_starts_no_spark_job(spark, sf_dir):
    """A local parquet source is read without Spark's schema-inference
    job (the schema comes from the footer)."""
    project = load_project(os.path.join(ROOT, "projects", "tpch_demo"))
    src = project.source_by_name()["tpch_lineitem"]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = read_source(spark, src, {"DATA_DIR": sf_dir})
    assert set(tracker.getJobIdsForGroup()) == before
    # the declared casts still apply: shipdate is NTZ in the file
    assert dict(df.dtypes)["l_shipdate"] == "timestamp"


def test_operators_read_parquet_through_read_table():
    """Every operators module reads parquet through ``read_table``, so
    a local file passes its footer schema instead of starting Spark's
    schema-inference job."""
    pkg = os.path.join(ROOT, "dataforge_core_spark", "operators")
    offenders = [
        f"{name}:{i}"
        for name in sorted(os.listdir(pkg)) if name.endswith(".py")
        for i, line in enumerate(
            open(os.path.join(pkg, name), encoding="utf-8"), 1)
        if "spark.read.parquet(" in line
    ]
    assert not offenders


# warm-pool lanes that read parquet: (operators module, lane)
_PARQUET_LANES = [
    ("dedup", "dedup_exact"),
    ("sketches", "sketch_dd_quantiles"),
    ("text", "text_tokens"),
    ("training", "train_sample_stratified"),
    ("multimodal", "multimodal_meta"),
    ("nested", "nested_aggregate"),
]


@pytest.mark.parametrize("module,lane", _PARQUET_LANES,
                         ids=[lane for _, lane in _PARQUET_LANES])
def test_warm_lane_build_starts_no_spark_job(spark, sf_dir, module, lane):
    """Once a lane's stored indexes exist, building its DataFrame again
    starts no Spark job: its parquet reads take the footer schema."""
    import importlib

    fn = importlib.import_module(
        f"dataforge_core_spark.operators.{module}").queries()[lane]
    fn(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    fn(spark, sf_dir)
    assert set(tracker.getJobIdsForGroup()) == before


_MAPPED = [
    pa.int8(), pa.int16(), pa.int32(), pa.int64(), pa.float32(),
    pa.float64(), pa.bool_(), pa.string(), pa.large_string(), pa.date32(),
    pa.decimal128(10, 2), pa.decimal128(30, 5),
    pa.timestamp("us"), pa.timestamp("ms"), pa.timestamp("us", tz="UTC"),
    pa.timestamp("ms", tz="America/New_York"),
]
_UNMAPPED = [
    pa.uint8(), pa.uint32(), pa.binary(), pa.list_(pa.int32()),
    pa.struct([("a", pa.int32())]), pa.timestamp("ns"),
    pa.dictionary(pa.int32(), pa.string()),
]
_types = st.sampled_from(_MAPPED + _UNMAPPED)
_schemas = st.lists(_types, min_size=1, max_size=4)


def _write(path, types, int96=False):
    cols = {f"c{i}": pa.nulls(2, t) for i, t in enumerate(types)}
    pq.write_table(pa.table(cols), path,
                   use_deprecated_int96_timestamps=int96)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    parts=st.lists(_schemas, min_size=1, max_size=3),
    ntz=st.booleans(),
    int96=st.booleans(),
    layout=st.sampled_from(["file", "dir", "dir+subdir", "dir+summary"]),
)
def test_footer_schema_property(spark, tmp_path_factory, ntz_setting,
                                parts, ntz, int96, layout):
    """Generated tables of mapped and unmapped types, zoned and
    unzoned timestamps under both NTZ settings, INT96 timestamps, and
    directories whose part files may disagree: the footer schema is
    None or exactly Spark's inferred schema, and a single file of only
    mapped types always takes the fast path."""
    spark.conf.set(NTZ, str(ntz).lower())
    root = str(tmp_path_factory.mktemp("pq"))
    if layout == "file":
        path = os.path.join(root, "t.parquet")
        _write(path, parts[0], int96)
    else:
        path = os.path.join(root, "t")
        os.makedirs(path)
        for i, types in enumerate(parts):
            _write(os.path.join(path, f"part-{i}.parquet"), types, int96)
        if layout == "dir+subdir":
            os.makedirs(os.path.join(path, "k=1"))
            _write(os.path.join(path, "k=1", "part-0.parquet"), parts[0])
        elif layout == "dir+summary":
            pq.write_metadata(pq.read_schema(
                os.path.join(path, "part-0.parquet")),
                os.path.join(path, "_common_metadata"))
    fs = _assert_parity(spark, path)
    all_mapped = all(t in _MAPPED for t in parts[0])
    if layout == "file" and all_mapped and not (
        int96 and any(pa.types.is_timestamp(t) for t in parts[0])
    ):
        assert fs is not None
    if layout in ("dir+subdir", "dir+summary"):
        assert fs is None
