"""The job's driver-side helpers, without a Spark session: the
per-partition metrics accumulator and a group's commit."""

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from fuzzy_search_spark.spark.job import (
    _ARROW_SCHEMA,
    _MetricsParam,
    _commit_group,
)


def test_metrics_keep_one_row_per_partition():
    """A partition computed again replaces its earlier row: the merged
    rows count each partition once, whatever order the updates arrive in."""
    param = _MetricsParam()
    acc = param.zero({})
    for update in ({0: [3, 30, 2, 5]}, {1: [4, 40, 1, 6]},
                   {0: [3, 30, 2, 9]}):
        acc = param.addInPlace(acc, update)
    assert acc == {0: [3, 30, 2, 9], 1: [4, 40, 1, 6]}
    assert sum(row[0] for row in acc.values()) == 7


def _matches(*urls):
    n = len(urls)
    return pa.table({
        "url": list(urls), "phrase": ["p"] * n, "variant": ["p"] * n,
        "string": ["q"] * n, "offset": [0] * n, "end": [1] * n,
        "label": [None] * n, "ignorecase": [False] * n,
        "char_match": [1.0] * n, "ngram_match": [0.5] * n,
        "levenshtein_similarity": [0.75] * n}, schema=_ARROW_SCHEMA)


def test_commit_group_lands_only_the_named_files(tmp_path):
    """The commit moves exactly the files the match stage's rows name into
    the group directory, replacing an older run's files there, and removes
    the staging directory with what no row names: the other attempt of a
    partition and a torn file."""
    fs = pafs.LocalFileSystem()
    staging = tmp_path / "_staging" / "group=0"
    target = tmp_path / "matches" / "group=0"
    staging.mkdir(parents=True)
    target.mkdir(parents=True)
    pq.write_table(_matches("a", "b"), staging / "part-00000-first.parquet")
    pq.write_table(_matches("a", "b"), staging / "part-00000-second.parquet")
    pq.write_table(_matches("c"), staging / "part-00001-only.parquet")
    (staging / "part-00002-torn.parquet").write_bytes(b"PAR1\x15\x04")
    pq.write_table(_matches("old"), target / "part-00000-older-run.parquet")
    (target / "part-00005-older-run.parquet").write_bytes(b"PAR1")

    parts = [{"file": "part-00000-second.parquet", "rows": 2},
             {"file": "part-00001-only.parquet", "rows": 1}]
    assert _commit_group(fs, str(staging), str(target), parts) == 3

    assert sorted(os.listdir(target)) == [
        "part-00000-second.parquet", "part-00001-only.parquet"]
    assert not staging.exists()
    table = pq.read_table(target)
    assert sorted(table.column("url").to_pylist()) == ["a", "b", "c"]


def test_commit_group_without_matches_keeps_the_schema(tmp_path):
    """A group without a match still commits one file, empty but with the
    match schema, and replaces the rows an older run left."""
    fs = pafs.LocalFileSystem()
    staging = tmp_path / "_staging" / "group=1"
    target = tmp_path / "matches" / "group=1"
    staging.mkdir(parents=True)
    target.mkdir(parents=True)
    pq.write_table(_matches("old"), target / "part-00000-older-run.parquet")

    assert _commit_group(fs, str(staging), str(target), []) == 0

    assert not staging.exists()
    (name,) = os.listdir(target)
    table = pq.read_table(target / name)
    assert table.num_rows == 0 and table.schema == _ARROW_SCHEMA
