"""End-to-end Spark-surface tests: match job, context columns, resumable
groups, CLI, multimodal plumbing, pipeline ops, vocabulary tables and
skipgram similarity.

One shared local[4] session; each test drives a real DataFrame action.
"""

import os
import shutil

import pytest

from fuzzy_search_spark.fixtures import (
    README_CONFIG,
    README_MODEL,
    write_web_pages_parquet,
)
from fuzzy_search_spark.model import compile_model

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def spark():
    from fuzzy_search_spark.spark.session import get_spark

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    spark = get_spark(master="local[4]", app_name="surface-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "web_pages.parquet")
    write_web_pages_parquet(path, n_bulk=60, tail_docs_per_1k=0)
    return path


@pytest.fixture(scope="module")
def matches_df(spark, pages_path):
    from fuzzy_search_spark.spark.job import match_documents

    model = compile_model(README_MODEL, README_CONFIG)
    df = spark.read.parquet(pages_path)
    return match_documents(df, model).cache()


def test_match_job_golden_rows(matches_df):
    golden = matches_df.filter(
        matches_df.url.contains("golden-nl-1")).orderBy("offset").collect()
    assert [(r.string, r.offset, r.end) for r in golden] == [
        ("Veucris", 3, 10), ("den 5. Januaris 1725", 11, 31),
        ("PR&ASIDE", 33, 41), ("PRASENTIEBUS", 63, 75), ("Velters", 322, 329),
    ]


def test_context_columns(spark, pages_path, matches_df):
    from fuzzy_search_spark.context import attach_context_columns

    from pyspark.sql import functions as F

    docs = spark.read.parquet(pages_path)
    ctx = attach_context_columns(matches_df, docs, context_size=10)
    # NB: ctx.offset would resolve to DataFrame.offset (the method) in
    # Spark 4 — always address this column via F.col
    row = ctx.filter(
        ctx.url.contains("golden-nl-1") & (F.col("offset") == 33)).head()
    assert row.string == "PR&ASIDE"
    assert row.context == "ris 1725. PR&ASIDE, Den Heer"
    assert row.prefix == "ris 1725. "
    assert row.suffix == ", Den Heer"


def test_context_library_matches_spark(spark, pages_path, matches_df):
    from fuzzy_search_spark.context import find_matches_with_context

    docs = {r.url: r.text for r in spark.read.parquet(pages_path)
            .filter("url like '%golden-nl-1%'").collect()}
    model = compile_model(README_MODEL, README_CONFIG)
    for url, text in docs.items():
        ctxs = find_matches_with_context(text, model, context_size=10)
        assert [c["match"].string for c in ctxs][:2] == [
            "Veucris", "den 5. Januaris 1725"]


def test_multimodal_plumbing(spark, pages_path):
    from fuzzy_search_spark.pipeline.multimodal import (
        image_features,
        media_metadata,
    )

    df = spark.read.parquet(pages_path).selectExpr(
        "url", "html as payload").limit(20)
    meta = media_metadata(df).collect()
    assert all(m.media_type == "application/octet-stream" for m in meta)
    assert all(len(m.sha256) == 64 and m.n_bytes > 0 for m in meta)

    png = spark.createDataFrame(
        [("u1", b"\x89PNG\r\n\x1a\n" + b"x" * 64),
         ("u2", b"\xff\xd8\xff\xe0" + b"y" * 64)],
        "url string, payload binary")
    got = {r.url: r for r in media_metadata(png).collect()}
    assert got["u1"].media_type == "image/png"
    assert got["u2"].media_type == "image/jpeg"

    # both payloads carry real magics over garbage bodies: the REAL
    # decoders (PNG inflate+unfilter, JPEG huffman+IDCT) reject them and
    # the rows are skipped — corrupt crawl bytes cost rows, never tasks
    feats = image_features(png).collect()
    assert feats == []
    # a VALID baseline JPEG decodes for real
    import numpy as np

    from fuzzy_search_spark.pipeline.codecs import encode_jpeg_gray

    ok = spark.createDataFrame(
        [("j1", bytearray(encode_jpeg_gray(
            np.full((16, 16), 150, dtype=np.uint8))))],
        "url string, payload binary")
    got = image_features(ok).collect()
    assert len(got) == 1
    assert got[0].mean_rgb == [150.0, 150.0, 150.0]
    assert (got[0].height, got[0].width) == (16, 16)


def test_resume_manifest(spark, pages_path, tmp_path):
    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "job_out")
    s1 = run_extraction_job(spark, pages_path, out, model, num_groups=2)
    assert s1["ran"] == [0, 1]
    s2 = run_extraction_job(spark, pages_path, out, model, num_groups=2)
    assert s2["ran"] == [] and s2["skipped"] == [0, 1]
    # metrics rows exist per group
    assert sorted(os.listdir(os.path.join(out, "_metrics"))) == [
        "group=0.json", "group=1.json"]


def test_resume_fingerprint_drift(spark, pages_path, tmp_path):
    """A config change must invalidate committed groups (new fingerprint)."""
    from fuzzy_search_spark.spark.job import run_extraction_job

    out = str(tmp_path / "drift_out")
    m1 = compile_model(README_MODEL, README_CONFIG)
    s1 = run_extraction_job(spark, pages_path, out, m1, num_groups=2)
    assert s1["ran"] == [0, 1]
    changed = dict(README_CONFIG, levenshtein_threshold=0.8)
    m2 = compile_model(README_MODEL, changed)
    s2 = run_extraction_job(spark, pages_path, out, m2, num_groups=2)
    assert s2["ran"] == [0, 1] and s2["skipped"] == []
    # the group directories now hold m2's rows: going back to m1 must run
    # every group again, although the manifest still has m1's older lines
    s3 = run_extraction_job(spark, pages_path, out, m1, num_groups=2)
    assert s3["ran"] == [0, 1] and s3["skipped"] == []


def test_resume_fingerprint_column_drift(spark, pages_path, tmp_path):
    """Reading rows from another column must invalidate committed groups."""
    from fuzzy_search_spark.spark.job import run_extraction_job

    out = str(tmp_path / "column_drift_out")
    model = compile_model(README_MODEL, README_CONFIG)
    s1 = run_extraction_job(spark, pages_path, out, model, num_groups=2)
    assert s1["ran"] == [0, 1]
    s2 = run_extraction_job(spark, pages_path, out, model, num_groups=2,
                            html_col=None)
    assert s2["ran"] == [0, 1] and s2["skipped"] == []


def test_resume_torn_manifest_line(spark, pages4_path, tmp_path):
    """A crash in the middle of a manifest append leaves a partial last
    line, or a whole line without its newline: resume re-runs the group of
    every line cut off (lines are in commit order, so the groups are read
    from the lines), ends with the same output and a clean manifest that
    lists each group once, and later runs keep reading it.  A bad line
    that is not the last still raises."""
    import json

    from fuzzy_search_spark.spark.job import run_extraction_job

    out = str(tmp_path / "torn_out")
    model = compile_model(README_MODEL, README_CONFIG)

    def run():
        return run_extraction_job(spark, pages4_path, out, model,
                                  num_groups=4)

    def rows():
        return sorted(map(str, spark.read.parquet(
            os.path.join(out, "matches")).collect()))

    def groups():
        with open(manifest) as fh:
            return [json.loads(line)["group"] for line in fh]

    run()
    expect = rows()
    manifest = os.path.join(out, "_manifest.jsonl")
    with open(manifest) as fh:
        lines = fh.readlines()
    assert sorted(groups()) == [0, 1, 2, 3]
    torn = {
        "cut mid-line": (lines[:3] + [lines[3][:len(lines[3]) // 2]],
                         lines[3:]),
        "cut at newline": (lines[:1] + [lines[1].rstrip("\n")], lines[1:]),
    }
    for name, (content, cut) in torn.items():
        with open(manifest, "w") as fh:
            fh.write("".join(content))
        assert run()["ran"] == sorted(json.loads(line)["group"]
                                      for line in cut), name
        assert rows() == expect, name
        assert sorted(groups()) == [0, 1, 2, 3], name
        assert run()["skipped"] == [0, 1, 2, 3], name

    with open(manifest, "w") as fh:
        fh.write(lines[0][:len(lines[0]) // 2] + "\n" + "".join(lines[1:]))
    with pytest.raises(ValueError):
        run()


@pytest.fixture(scope="module")
def pages4_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages4") / "web_pages")
    write_web_pages_parquet(path, n_bulk=60, n_files=4, tail_docs_per_1k=0)
    return path


def _group_metrics(out, num_groups):
    import json

    metrics = []
    for g in range(num_groups):
        with open(os.path.join(out, "_metrics", f"group={g}.json")) as fh:
            metrics.append(json.load(fh))
    return metrics


@pytest.mark.parametrize("n_files,spread", [(4, True), (8, False)])
def test_groups_own_disjoint_input_files(spark, pages4_path, tmp_path,
                                         n_files, spread):
    """Each group reads only its own files of the sorted listing: the
    groups' files are disjoint and cover the listing, and each group's docs
    are the rows of its files.  A group that owns as many files as the
    session has cores (8 files, 2 groups, local[4]) runs as one narrow
    stage, with no Exchange; one that owns fewer (4 files) is spread by url
    hash over the cores first, and that is its only Exchange."""
    import re

    import pyarrow.parquet as pq

    from fuzzy_search_spark.spark.job import run_extraction_job

    pages = pages4_path
    if n_files != 4:
        pages = str(tmp_path / "pages")
        write_web_pages_parquet(pages, n_bulk=60, n_files=n_files,
                                tail_docs_per_1k=0)
    listing = sorted(spark.read.parquet(pages).inputFiles())
    assert len(listing) == n_files
    store = spark._jsparkSession.sharedState().statusStore()
    seen = store.executionsList().size()
    model = compile_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "groups_out")
    s = run_extraction_job(spark, pages, out, model, num_groups=2)
    assert s["ran"] == [0, 1]

    metrics = _group_metrics(out, 2)
    owned = [m["files"] for m in metrics]
    assert all(owned) and not set(owned[0]) & set(owned[1])
    assert sorted(owned[0] + owned[1]) == listing
    for m in metrics:
        rows = sum(
            sum(1 for t in pq.read_table(f[len("file://"):], columns=["text"])
                .column("text").to_pylist() if t)
            for f in m["files"])
        assert m["docs"] == rows > 0

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = [store.executionsList().apply(i)
                  for i in range(seen, store.executionsList().size())]
    # each group's match stage writes its own files and returns their
    # names to the driver: one execution per group, under its description
    groups = sorted((e.description(), e.physicalPlanDescription())
                    for e in executions
                    if e.description().startswith("fuzzy-spark group "))
    assert [d for d, _ in groups] == ["fuzzy-spark group 0/2",
                                      "fuzzy-spark group 1/2"]
    plans = [plan for _, plan in groups]
    spread_by_url = (f"hashpartitioning(xxhash64(url#",
                     f", {spark.sparkContext.defaultParallelism}), "
                     "REPARTITION_BY_NUM")
    for plan in plans:
        assert "MapInPandas" in plan, plan
        exchanges = re.findall(r"\(\d+\) Exchange\n.*\nArguments: (.*)", plan)
        if spread:
            assert exchanges and all(
                a.startswith(spread_by_url[0]) and spread_by_url[1] in a
                for a in exchanges), plan
        else:
            assert "Exchange" not in plan, plan


def test_more_groups_than_files(spark, pages4_path, tmp_path):
    """Groups that own no file still commit, with docs = 0, and a second
    run skips every group.  The groups run two at a time, with threads
    switched often: the summary's totals are the sums of the manifest's
    lines, one line per group."""
    import json
    import sys

    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "sparse_out")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        s1 = run_extraction_job(spark, pages4_path, out, model, num_groups=6)
    finally:
        sys.setswitchinterval(interval)
    assert s1["ran"] == list(range(6)) and s1["docs"] > 0
    assert [m["docs"] for m in _group_metrics(out, 6)][4:] == [0, 0]
    with open(os.path.join(out, "_manifest.jsonl")) as fh:
        manifest = [json.loads(line) for line in fh]
    assert sorted(e["group"] for e in manifest) == list(range(6))
    assert s1["docs"] == sum(e["docs"] for e in manifest)
    assert s1["matches"] == sum(e["matches"] for e in manifest) > 0
    docs = {e["group"]: e["docs"] for e in manifest}
    assert [docs[4], docs[5]] == [0, 0]
    assert spark.read.parquet(os.path.join(out, "matches")).count() > 0
    s2 = run_extraction_job(spark, pages4_path, out, model, num_groups=6)
    assert s2["ran"] == [] and s2["skipped"] == list(range(6))


def test_fewer_groups_remove_stale_groups(spark, pages4_path, tmp_path):
    """A run with fewer groups removes the groups an earlier run left
    beyond its count, output, metrics and manifest lines alike: reading
    ``matches/`` gives the second run's rows only, and a third run with the
    first count runs the removed groups again instead of skipping them."""
    import json

    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "shrink_out")
    matches = os.path.join(out, "matches")
    s4 = run_extraction_job(spark, pages4_path, out, model, num_groups=4)
    assert s4["ran"] == [0, 1, 2, 3]
    s2 = run_extraction_job(spark, pages4_path, out, model, num_groups=2)
    assert s2["ran"] == [0, 1]
    assert sorted(os.listdir(matches)) == ["group=0", "group=1"]
    assert sorted(os.listdir(os.path.join(out, "_metrics"))) == [
        "group=0.json", "group=1.json"]
    with open(os.path.join(out, "_manifest.jsonl")) as fh:
        assert {json.loads(line)["group"] for line in fh} == {0, 1}
    assert spark.read.parquet(matches).count() == s2["matches"] > 0

    again = run_extraction_job(spark, pages4_path, out, model, num_groups=4)
    assert again["ran"] == [0, 1, 2, 3] and again["skipped"] == []
    assert spark.read.parquet(matches).count() == again["matches"]


def test_resume_file_listing_drift(spark, pages4_path, tmp_path):
    """A file added to the input changes the fingerprint: every group runs
    again (the added file moves which files each group owns)."""
    from fuzzy_search_spark.spark.job import run_extraction_job

    pages = str(tmp_path / "pages")
    shutil.copytree(pages4_path, pages)
    model = compile_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "listing_out")
    s1 = run_extraction_job(spark, pages, out, model, num_groups=2)
    assert s1["ran"] == [0, 1]
    shutil.copy(os.path.join(pages, "part-00000.parquet"),
                os.path.join(pages, "part-00004.parquet"))
    s2 = run_extraction_job(spark, pages, out, model, num_groups=2)
    assert s2["ran"] == [0, 1] and s2["skipped"] == []
    assert s2["fingerprint"] != s1["fingerprint"]
    assert s2["docs"] > s1["docs"]


def test_file_uri_output_keeps_its_state(spark, pages4_path, tmp_path,
                                         monkeypatch):
    """With a file:// output the manifest and metrics sit next to the
    matches, so a run from another working directory skips every group,
    and neither run leaves a ``file:`` directory where it ran."""
    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    out = tmp_path / "uri_out"
    first, second = tmp_path / "cwd1", tmp_path / "cwd2"
    first.mkdir()
    second.mkdir()
    monkeypatch.chdir(first)
    s1 = run_extraction_job(spark, pages4_path, out.as_uri(), model,
                            num_groups=2)
    assert s1["ran"] == [0, 1]
    assert sorted(os.listdir(out)) == ["_manifest.jsonl", "_metrics",
                                       "matches"]
    monkeypatch.chdir(second)
    s2 = run_extraction_job(spark, pages4_path, out.as_uri(), model,
                            num_groups=2)
    assert s2["ran"] == [] and s2["skipped"] == [0, 1]
    assert os.listdir(first) == [] and os.listdir(second) == []


def test_extraction_job_broadcasts_model_once(spark, pages_path, tmp_path,
                                              monkeypatch):
    """run_extraction_job ships the model once per job, not once per group:
    a 2-group run broadcasts it once, and a resumed run that skips every
    group broadcasts it not at all."""
    from pyspark import SparkContext

    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    shipped = []
    broadcast = SparkContext.broadcast

    def counting_broadcast(self, value):
        shipped.append(value)
        return broadcast(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting_broadcast)
    out = str(tmp_path / "job_out")
    s1 = run_extraction_job(spark, pages_path, out, model, num_groups=2)
    assert s1["ran"] == [0, 1] and s1["matches"] > 0
    assert sum(value is model for value in shipped) == 1
    s2 = run_extraction_job(spark, pages_path, out, model, num_groups=2)
    assert s2["skipped"] == [0, 1]
    assert sum(value is model for value in shipped) == 1


def test_extraction_job_output_schema_and_rows(spark, pages_path, tmp_path):
    """The job's own parquet files read back as MATCH_SCHEMA plus the
    ``group`` column, with the rows that match_documents gives written
    through Spark's parquet writer: the same strings, offsets and
    float scores, labels of one and two strings, and NULL labels."""
    from pyspark.sql import types as T

    from fuzzy_search_spark.spark.job import (
        MATCH_SCHEMA,
        match_documents,
        read_pages,
        run_extraction_job,
    )

    labels = {"PRAESIDE": "person", "Veneris": ["day", "weekday"]}
    model = compile_model([dict(p, label=labels.get(p["phrase"]))
                           for p in README_MODEL], README_CONFIG)
    out = str(tmp_path / "job_out")
    run_extraction_job(spark, pages_path, out, model, num_groups=2)
    got = spark.read.parquet(os.path.join(out, "matches"))
    assert got.schema == T.StructType(
        MATCH_SCHEMA.fields + [T.StructField("group", T.IntegerType())])

    ref = str(tmp_path / "ref")
    match_documents(read_pages(spark, pages_path), model,
                    html_col="html").write.mode("overwrite").parquet(ref)
    expect = sorted(map(tuple, spark.read.parquet(ref).collect()))
    rows = sorted(map(tuple, got.drop("group").collect()))
    assert rows == expect
    assert {r[6] and tuple(r[6]) for r in rows} == {
        None, ("person",), ("day", "weekday")}
    assert all(isinstance(r[8], float) for r in rows)


def test_token_job_rows_metrics_and_resume(spark, pages4_path, tmp_path):
    """A TokenModel runs through the same job: its ``matches/`` rows equal
    match_documents_tokens on every column (NULL char and ngram scores,
    ignorecase False), each group's ``_metrics`` partition rows account
    for its documents, a second run skips both groups, and a phrase model
    run into the same output runs both again (the matcher kind is part of
    the fingerprint)."""
    from fuzzy_search_spark.spark.job import (
        match_documents_tokens,
        run_extraction_job,
    )
    from fuzzy_search_spark.token_matcher import compile_token_model

    model = compile_token_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "token_out")
    s1 = run_extraction_job(spark, pages4_path, out, model, num_groups=2)
    assert s1["ran"] == [0, 1] and s1["fingerprint"].startswith("token:")
    got = spark.read.parquet(os.path.join(out, "matches"))
    rows = sorted(map(tuple, got.drop("group").collect()))
    expect = sorted(map(tuple, match_documents_tokens(
        spark.read.parquet(pages4_path), model, html_col="html").collect()))
    assert rows == expect and len(rows) == s1["matches"] > 0
    assert all(r.char_match is None and r.ngram_match is None
               and r.ignorecase is False for r in got.collect())

    texts = spark.read.parquet(pages4_path).filter(
        "text is not null and text <> ''").count()
    docs = [sum(p["docs"] for p in m["partitions"])
            for m in _group_metrics(out, 2)]
    assert all(docs) and sum(docs) == texts == s1["docs"]

    s2 = run_extraction_job(spark, pages4_path, out, model, num_groups=2)
    assert s2["ran"] == [] and s2["skipped"] == [0, 1]
    s3 = run_extraction_job(spark, pages4_path, out,
                            compile_model(README_MODEL, README_CONFIG),
                            num_groups=2)
    assert s3["ran"] == [0, 1] and s3["skipped"] == []


def test_token_model_rejects_chunk_chars(spark, pages_path, tmp_path):
    """Chunked matching exists for the phrase matcher only: a TokenModel
    with chunk_chars raises ValueError from match_documents, from the job
    (before it writes anything) and from the CLI's --token-mode."""
    import json

    from fuzzy_search_spark.__main__ import main
    from fuzzy_search_spark.spark.job import (
        match_documents,
        run_extraction_job,
    )
    from fuzzy_search_spark.token_matcher import compile_token_model

    model = compile_token_model(README_MODEL, README_CONFIG)
    with pytest.raises(ValueError, match="chunk_chars"):
        match_documents(spark.read.parquet(pages_path), model,
                        chunk_chars=120)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="chunk_chars"):
        run_extraction_job(spark, pages_path, out, model, chunk_chars=120)
    phrases_file = tmp_path / "phrases.json"
    phrases_file.write_text(json.dumps(list(README_MODEL)))
    with pytest.raises(ValueError, match="chunk_chars"):
        main(["--input", pages_path, "--output", out,
              "--phrases", str(phrases_file), "--token-mode",
              "--chunk-chars", "120"], spark=spark)
    assert not os.path.exists(out)


def test_interrupted_job_resumes_to_the_same_rows(spark, pages4_path,
                                                  tmp_path):
    """A job whose Spark jobs are cancelled once its first group has
    committed (a watcher thread, as in perfbench's interrupt) resumes to
    the rows of an uninterrupted run: the committed group is skipped, the
    manifest lists each group once and no staged file is left behind."""
    import json
    import threading

    from py4j.protocol import Py4JJavaError

    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    whole = str(tmp_path / "whole")
    run_extraction_job(spark, pages4_path, whole, model, num_groups=3)

    out = str(tmp_path / "interrupted")
    manifest = os.path.join(out, "_manifest.jsonl")
    sc = spark.sparkContext
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            if os.path.exists(manifest):
                with open(manifest) as fh:
                    if sum(1 for _ in fh) >= 1:
                        sc.cancelJobGroup("test-interrupt")
            stop.wait(0.005)

    sc.setJobGroup("test-interrupt", "interrupted run", True)
    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        with pytest.raises(Py4JJavaError):
            run_extraction_job(spark, pages4_path, out, model, num_groups=3)
    finally:
        stop.set()
        watcher.join()
        sc.setLocalProperty("spark.jobGroup.id", None)

    s = run_extraction_job(spark, pages4_path, out, model, num_groups=3)
    assert s["skipped"] and s["ran"]
    assert sorted(s["skipped"] + s["ran"]) == [0, 1, 2]
    assert not os.path.exists(os.path.join(out, "_staging"))
    with open(manifest) as fh:
        assert sorted(json.loads(line)["group"] for line in fh) == [0, 1, 2]

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(
            os.path.join(path, "matches")).collect()))

    assert rows(out) == rows(whole)



def test_groups_run_together_under_the_callers_job_group(spark, tmp_path,
                                                         monkeypatch):
    """Each group's job runs from its own thread with the caller's local
    properties: on an input where every group takes the narrow path (8
    files, 2 groups, local[4]) the caller's job group holds exactly one
    Spark job per group, and no other (no schema inference, no listing).
    The two groups are in flight together and commit in any order: group
    0's commit waits until group 1 has committed, and the manifest lists
    group 1 first."""
    import json
    import time

    from fuzzy_search_spark.spark import job

    pages = str(tmp_path / "pages")
    write_web_pages_parquet(pages, n_bulk=60, n_files=8, tail_docs_per_1k=0)
    out = str(tmp_path / "out")
    manifest = os.path.join(out, "_manifest.jsonl")
    commit = job._commit_group

    def groups():
        if not os.path.exists(manifest):
            return []
        with open(manifest) as fh:
            return [json.loads(line)["group"] for line in fh]

    def commit_after_group_1(fs, staging, target, parts):
        deadline = time.monotonic() + 20
        while (target.endswith("group=0") and 1 not in groups()
               and time.monotonic() < deadline):
            time.sleep(0.01)
        return commit(fs, staging, target, parts)

    monkeypatch.setattr(job, "_commit_group", commit_after_group_1)
    sc = spark.sparkContext
    sc.setJobGroup("test-groups", "a caller's job group")
    try:
        s = job.run_extraction_job(spark, pages, out,
                                   compile_model(README_MODEL, README_CONFIG),
                                   num_groups=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["ran"] == [0, 1] and s["docs"] > 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("test-groups")) == 2
    assert groups() == [1, 0]


@pytest.mark.parametrize("html_type", ["binary", "string"])
def test_footer_schema_and_rows(spark, pages_path, tmp_path, monkeypatch,
                                html_type):
    """The read schema comes from the first file's footer, for the columns
    the job reads only, and equals Spark's own inference on them: html as
    binary or string, and an all-NULL string text (so every document is
    extracted from html).  The naive timestamp warc_ts, which a conversion
    of the whole footer would type as timestamp instead of Spark's
    timestamp_ntz, is not read; the job's rows equal match_documents
    written through Spark's parquet writer.  A nanosecond timestamp, which
    Spark cannot read, fails its inference but not the job.  A file
    pyarrow has no filesystem for
    falls back to Spark's inference, with the same schema.  An input
    without files fails with a clear error."""
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from fuzzy_search_spark.spark import job
    from fuzzy_search_spark.spark.job import (
        _list_input_files,
        _read_schema,
        match_documents,
        read_pages,
        run_extraction_job,
    )

    table = pq.read_table(pages_path)
    table = table.set_column(table.schema.get_field_index("text"), "text",
                             pa.nulls(table.num_rows, pa.string()))
    if html_type == "string":
        html = table.schema.get_field_index("html")
        table = table.set_column(html, "html",
                                 table.column(html).cast(pa.string()))
    assert table.schema.field("warc_ts").type == pa.timestamp("us")
    pages, pages_ns = str(tmp_path / "pages"), str(tmp_path / "pages_ns")
    half = table.num_rows // 2
    for path, t in ((pages, table), (pages_ns, table.set_column(
            table.schema.get_field_index("warc_ts"), "warc_ts",
            table.column("warc_ts").cast(pa.timestamp("ns"))))):
        os.makedirs(path)
        pq.write_table(t.slice(0, half), f"{path}/part-0.parquet")
        pq.write_table(t.slice(half), f"{path}/part-1.parquet")

    columns = ["url", "text", "html"]
    files = _list_input_files(spark, pages, "parquet")
    os.makedirs(tmp_path / "empty")
    for table_format in ("parquet", "warc"):
        with pytest.raises(ValueError, match="no input files"):
            _list_input_files(spark, str(tmp_path / "empty"), table_format)
    schema = _read_schema(spark, files[0], columns)
    inferred = spark.read.parquet(pages).schema
    assert schema == T.StructType([f for f in inferred if f.name in columns])
    assert inferred["warc_ts"].dataType == T.TimestampNTZType()
    assert {f.name: f.dataType for f in schema} == {
        "url": T.StringType(), "text": T.StringType(),
        "html": T.BinaryType() if html_type == "binary" else T.StringType()}
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        spark.read.parquet(pages_ns).schema

    def no_filesystem(uri):
        raise pa.ArrowInvalid(f"Unrecognized filesystem type in URI: {uri}")

    with monkeypatch.context() as m:
        m.setattr(job, "pafs", SimpleNamespace(
            FileSystem=SimpleNamespace(from_uri=no_filesystem)))
        assert _read_schema(spark, files[0], columns) == schema

    model = compile_model(README_MODEL, README_CONFIG)
    ref = str(tmp_path / "ref")
    match_documents(read_pages(spark, pages), model,
                    html_col="html").write.mode("overwrite").parquet(ref)
    expect = sorted(map(tuple, spark.read.parquet(ref).collect()))
    assert expect
    for path in (pages, pages_ns):
        out = path + "_out"
        run_extraction_job(spark, path, out, model, num_groups=2)
        got = spark.read.parquet(os.path.join(out, "matches")).drop("group")
        assert sorted(map(tuple, got.collect())) == expect, path


def test_failed_group_keeps_the_other_groups_commit(spark, pages4_path,
                                                    tmp_path):
    """A group whose input file is torn fails the job with the error its
    Spark job raised.  The other group, in flight with it, still commits
    its output and manifest line; no staged file and no driver thread is
    left behind.  Once the file is repaired, a resume runs only the failed
    group and ends with the rows of an uninterrupted run."""
    import json
    import threading

    from py4j.protocol import Py4JJavaError

    from fuzzy_search_spark.spark.job import run_extraction_job

    model = compile_model(README_MODEL, README_CONFIG)
    whole = str(tmp_path / "whole")
    run_extraction_job(spark, pages4_path, whole, model, num_groups=2)

    pages = str(tmp_path / "pages")
    shutil.copytree(pages4_path, pages)
    # group 0 owns files 0 and 2 of the listing; file 0 stays whole, as the
    # read schema comes from its footer
    torn = os.path.join(pages, sorted(os.listdir(pages4_path))[2])
    with open(torn, "r+b") as fh:
        fh.truncate(os.path.getsize(torn) // 2)
    out = str(tmp_path / "out")
    threads = threading.active_count()
    with pytest.raises(Py4JJavaError):
        run_extraction_job(spark, pages, out, model, num_groups=2)
    assert threading.active_count() == threads
    assert not os.path.exists(os.path.join(out, "_staging"))
    with open(os.path.join(out, "_manifest.jsonl")) as fh:
        assert [json.loads(line)["group"] for line in fh] == [1]

    def rows(path, group="*"):
        return sorted(map(tuple, spark.read.parquet(
            os.path.join(path, "matches", f"group={group}")).collect()))

    assert rows(out, 1) == rows(whole, 1)
    shutil.copy(os.path.join(pages4_path, os.path.basename(torn)), torn)
    s = run_extraction_job(spark, pages, out, model, num_groups=2)
    assert s["ran"] == [0] and s["skipped"] == [1]
    assert rows(out) == rows(whole)

def test_template_matching_spark(spark, matches_df):
    """groupBy(url).applyInPandas template wrapper agrees with the local
    template engine on every document."""
    from fuzzy_search_spark.template import (
        find_template_matches,
        match_templates,
        parse_template,
    )
    from fuzzy_search_spark.matcher import Match

    labels = {"date", "person"}
    tpl = parse_template(["date", "person"], known_labels=labels)
    # give two phrases template labels
    labeled = matches_df.selectExpr(
        "url", "phrase", "variant", "string", "offset", "end",
        "CASE WHEN phrase = 'den .. Januarii 1725' THEN array('date') "
        "     WHEN phrase IN ('Veneris', 'PRAESIDE') THEN array('person') "
        "     ELSE label END AS label",
        "ignorecase", "char_match", "ngram_match", "levenshtein_similarity")
    got = {}
    for r in match_templates(labeled, tpl).collect():
        got.setdefault(r.url, []).append(
            (r.template_index, r.n_matches, tuple(r.labels)))

    expect = {}
    for url, rows in _group_rows(labeled.collect()).items():
        ms = [Match(phrase=x.phrase, variant=x.variant, string=x.string,
                    offset=x.offset, end=x.end,
                    label=list(x.label) if x.label is not None else None,
                    char_match=x.char_match, ngram_match=x.ngram_match,
                    levenshtein_similarity=x.levenshtein_similarity)
              for x in sorted(rows, key=lambda m: (m.offset, m.end, m.phrase))]
        tms = find_template_matches(ms, tpl)
        if tms:
            expect[url] = [
                (i, len(t.phrase_matches),
                 tuple(sorted({lab for m in t.phrase_matches
                               for lab in (m.label or [])
                               if lab is not None})))
                for i, t in enumerate(tms)]
    assert got == expect and expect, "spark/local template mismatch"


def _group_rows(rows):
    out = {}
    for r in rows:
        out.setdefault(r.url, []).append(r)
    return out


def test_partitioning_invariance(spark, pages_path):
    """t3 (SURVEY §5.2): per-url results are identical regardless of
    partition count, url-hash salting, or giant-doc chunking — Spark
    distribution must never change what a document matches."""
    from pyspark.sql import functions as F

    from fuzzy_search_spark.spark.job import match_documents

    model = compile_model(README_MODEL, README_CONFIG)
    base = spark.read.parquet(pages_path)

    def rows(df, **kw):
        out = match_documents(df, model, **kw)
        return sorted(
            (r.url, r.phrase, r.variant, r.string, r.offset, r.end,
             r.char_match, r.ngram_match, r.levenshtein_similarity)
            for r in out.collect())

    expect = rows(base.coalesce(1))
    assert expect, "fixture produced no matches"
    assert rows(base.repartition(7)) == expect
    assert rows(base.repartition(5, F.xxhash64("url"))) == expect
    assert rows(base.repartition(3), chunk_chars=512) == expect


def test_lineage_metrics_values(spark, tmp_path):
    """Per-partition lineage rows must ACCOUNT for the data: summed docs ==
    input rows with text, summed matches == written match rows, and every
    partition row carries a non-negative wall.  Two input files, so each of
    the two groups has rows to account for."""
    import json

    from fuzzy_search_spark.spark.job import run_extraction_job

    pages_path = str(tmp_path / "pages2")
    write_web_pages_parquet(pages_path, n_bulk=60, n_files=2,
                            tail_docs_per_1k=0)
    model = compile_model(README_MODEL, README_CONFIG)
    out = str(tmp_path / "lineage_out")
    run_extraction_job(spark, pages_path, out, model, num_groups=2)

    n_input = spark.read.parquet(pages_path).filter(
        "text is not null and text <> ''").count()
    n_matches = spark.read.parquet(os.path.join(out, "matches")).count()

    total_docs = total_matches = 0
    for g in (0, 1):
        with open(os.path.join(out, "_metrics", f"group={g}.json")) as fh:
            payload = json.load(fh)
        rows = payload["partitions"]
        assert rows, f"group {g} has no partition rows"
        assert all(r["wall_ms"] >= 0 and r["chars"] >= r["docs"]
                   for r in rows)
        total_docs += sum(r["docs"] for r in rows)
        total_matches += sum(r["matches"] for r in rows)
    assert total_docs == n_input
    assert total_matches == n_matches


def test_minhash_plan_shape(spark):
    """Plan-regression guard for the LSH shape: zero SortAggregates
    (numeric signature components keep min() in a mutable hash-agg
    buffer), and the bucket-size-cap pre-count shares the banded-signature
    subtree with the pair generation via runtime stage reuse — the
    shingle->signature pipeline materializes ONCE, not per branch."""
    from fuzzy_search_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon {i}") for i in range(50)],
        "doc_id long, text string")
    out = minhash_lsh_pairs(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    # exactly two branches over the banded subtree: the size pre-count and
    # the capped collect_list (a third would mean an accidental recompute)
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") == 2
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 1, "banded subtree not stage-reused"


def test_minhash_bucket_cap(spark):
    """Oversized buckets are excluded from pair generation and surfaced by
    the audit helper."""
    from fuzzy_search_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        oversized_lsh_buckets,
    )

    # 30 identical docs (one degenerate bucket) + 2 near-dups
    docs = spark.createDataFrame(
        [(i, "the same templated text every time") for i in range(30)]
        + [(100, "a unique document about owls and trees"),
           (101, "a unique document about owls and bees")],
        "doc_id long, text string")
    capped = minhash_lsh_pairs(docs, max_bucket_size=10)
    ids = {r["id_a"] for r in capped.collect()} | \
        {r["id_b"] for r in capped.collect()}
    assert ids <= {100, 101}, "capped bucket leaked pairs"
    audit = oversized_lsh_buckets(docs, max_bucket_size=10).collect()
    assert audit and all(r["bucket_n"] == 30 for r in audit)
    uncapped = minhash_lsh_pairs(docs)
    assert uncapped.filter("id_a < 50").count() > 0


def test_cli_entry_point(spark, pages_path, tmp_path):
    """The spark-submit entry point (python -m fuzzy_search_spark) runs
    both pipelines end to end from file-based phrase/config inputs, each
    through the resumable job."""
    import json

    from fuzzy_search_spark.__main__ import main

    phrases_file = tmp_path / "phrases.json"
    phrases_file.write_text(json.dumps(list(README_MODEL)))
    config_file = tmp_path / "config.json"
    config_file.write_text(json.dumps(README_CONFIG))

    out1 = str(tmp_path / "cli_out")
    summary = main([
        "--input", pages_path, "--output", out1,
        "--phrases", str(phrases_file), "--config", str(config_file),
        "--num-groups", "2",
    ], spark=spark)
    assert summary["mode"] == "phrase" and summary["ran"] == [0, 1]
    assert spark.read.parquet(os.path.join(out1, "matches")).count() > 0

    out2 = str(tmp_path / "cli_out_tokens")
    summary2 = main([
        "--input", pages_path, "--output", out2,
        "--phrases", str(phrases_file), "--config", str(config_file),
        "--num-groups", "2", "--token-mode",
    ], spark=spark)
    assert summary2["mode"] == "token" and summary2["ran"] == [0, 1]
    assert summary2["fingerprint"].startswith("token:")
    assert spark.read.parquet(os.path.join(out2, "matches")).count() > 0


def test_vocabulary_table_dense_ids_no_global_window(spark):
    """Vocabulary dense ids are lexicographic ranks; the vocabulary itself
    never flows through a single-partition window or an RDD/Python pass —
    the only SinglePartition exchange feeds the tiny per-prefix-bucket
    count table (scale guard)."""
    from fuzzy_search_spark.analysis.vocabulary import vocabulary_table

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran"), (3, "a cat ran the race")],
        "doc_id long, text string")
    out = vocabulary_table(docs)
    rows = out.orderBy("term_id").collect()
    terms = [r["term"] for r in rows]
    assert terms == sorted(terms)
    assert [r["term_id"] for r in rows] == list(range(len(rows)))
    freqs = {r["term"]: r["freq"] for r in rows}
    assert freqs["the"] == 3 and freqs["cat"] == 2 and freqs["race"] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the row_number window over the full term set must be partitioned
    assert "row_number() windowspecdefinition(_bkt" in plan
    # exactly one SinglePartition exchange: the bucket-count running sum
    assert plan.count("Exchange SinglePartition") == 1
    # no RDD/Python pass in the id assignment
    assert "PythonRDD" not in plan and "MapPartitions" not in plan


def test_vocabulary_round_trip(spark):
    """vocabulary_from_df collects into the reference-API Vocabulary and
    the term<->id maps are mutually inverse."""
    from fuzzy_search_spark.analysis.vocabulary import vocabulary_from_df

    docs = spark.createDataFrame(
        [(1, "Alpha beta Gamma"), (2, "beta delta")],
        "doc_id long, text string")
    vocab = vocabulary_from_df(docs)
    assert len(vocab) == 4
    for term in vocab:
        assert vocab.id2term(vocab.term2id(term)) == term
    assert vocab.has_term("ALPHA")  # ignorecase inherited from lowercase=True
    assert vocab.term_freq["beta"] == 2


def test_analysis_plans_are_lazy(spark):
    """Regression guard for the de-eagered scalar-totals pattern: building
    the frequency plans must trigger ZERO Spark jobs (totals are
    broadcast one-row aggregates inside the DAG, not driver .head() calls),
    and the adaptive runtime reuses the shared aggregation exchange."""
    from fuzzy_search_spark.analysis.freq import (
        log_likelihood_ratio,
        ngram_probabilities,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 7} beta") for i in range(40)],
        "doc_id long, text string")
    docs2 = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 5} zeta") for i in range(40)],
        "doc_id long, text string")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    p1 = ngram_probabilities(docs)
    p2 = log_likelihood_ratio(docs, docs2, min_freq=1)
    after = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert after == before, "plan construction ran eager Spark jobs"
    assert p1.count() > 0 and p2.count() > 0
    p1.collect()
    final = p1._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 1, "no exchange/stage reuse in AQE plan"


def test_ann_plans_are_lazy_with_dim(spark):
    """pairwise_topk/lsh_bucket must not fire eager .head() dim-probe jobs
    when the caller passes the known dimension."""
    from fuzzy_search_spark.pipeline.ann import lsh_bucket, pairwise_topk

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0], f"l{i % 2}") for i in range(12)],
        "vec_id long, embedding array<double>, label string")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    p1 = pairwise_topk(df, k=2, dim=3)
    p2 = lsh_bucket(df, num_planes=4, dim=3)
    after = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert after == before, "plan construction ran eager Spark jobs"
    assert p1.count() > 0 and p2.count() == 12


def test_iceberg_groups_overwrite_their_own_rows(spark, pages4_path,
                                                tmp_path, monkeypatch):
    """The job's Iceberg branch, with the listing, the table read and the
    table writer stubbed (no Iceberg runtime is installed): each group
    that runs calls ``writeTo(table).overwrite(group == g)`` exactly once
    with its own rows, also a group that owns no file, so that its empty
    output still replaces the rows an earlier run left in the table."""
    from pyspark.sql import functions as F

    from fuzzy_search_spark.spark import job
    from fuzzy_search_spark.spark.job import match_documents

    table = spark.read.parquet(pages4_path).withColumn(
        "_file", F.input_file_name())
    files = sorted(r[0] for r in table.select("_file").distinct().collect())
    assert len(files) == 4
    monkeypatch.setattr(job, "_list_input_files",
                        lambda spark, path, table_format: files)
    monkeypatch.setattr(job, "read_pages",
                        lambda spark, path, table_format: table)
    calls = []

    def write_to(df, target):
        class _Writer:
            def overwrite(self, condition):
                calls.append((target, str(condition), df.collect()))

        return _Writer()

    # the session's DataFrame class (Spark 4: the classic subclass)
    monkeypatch.setattr(type(table), "writeTo", write_to)
    monkeypatch.chdir(tmp_path)     # the manifest lands under the table name
    model = compile_model(README_MODEL, README_CONFIG)
    s = job.run_extraction_job(spark, "db.pages", "db.matches", model,
                               num_groups=5, table_format="iceberg")
    assert s["ran"] == [0, 1, 2, 3, 4]
    groups = {str(F.col("group") == g): g for g in range(5)}
    assert len(calls) == 5
    assert {target for target, _, _ in calls} == {"db.matches"}
    rows = {groups[condition]: got for _, condition, got in calls}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert rows[4] == [] and all(rows[g] for g in range(4))
    assert all(r["group"] == g for g in rows for r in rows[g])
    expect = sorted(map(tuple, match_documents(
        spark.read.parquet(pages4_path), model, html_col="html").collect()))
    assert sorted(tuple(r)[:-1] for g in rows for r in rows[g]) == expect
    assert s["matches"] == len(expect)


def test_cli_chunk_chars_forwarded(spark, pages_path, tmp_path):
    """--chunk-chars reaches match_documents (ADVICE r1: it was parsed but
    dropped) and, being exactness-preserving, leaves the output identical."""
    import json

    from fuzzy_search_spark.__main__ import main

    phrases_file = tmp_path / "phrases.json"
    phrases_file.write_text(json.dumps(list(README_MODEL)))
    config_file = tmp_path / "config.json"
    config_file.write_text(json.dumps(README_CONFIG))

    out_plain = str(tmp_path / "plain")
    out_chunked = str(tmp_path / "chunked")
    base = ["--phrases", str(phrases_file), "--config", str(config_file),
            "--input", pages_path, "--num-groups", "1"]
    main(base + ["--output", out_plain], spark=spark)
    main(base + ["--output", out_chunked, "--chunk-chars", "120"],
         spark=spark)
    cols = ["url", "phrase", "string", "offset", "end"]
    a = sorted(map(tuple, spark.read.parquet(
        os.path.join(out_plain, "matches")).select(cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(
        os.path.join(out_chunked, "matches")).select(cols).collect()))
    assert a == b and len(a) > 0


def test_skipgram_similarity_bucketed_identical_and_debuckets_hot_grams(spark):
    """The (gram, length)-keyed variant returns exactly the banded
    variant's output, and a hot gram's join-key fanout drops because its
    candidates split across term lengths."""
    from pyspark.sql import functions as F

    from fuzzy_search_spark.analysis.similarity import (
        char_skipgram_counts,
        skipgram_similarity_topk,
        skipgram_similarity_topk_bucketed,
    )

    # a hot trigram 'the' spread over many lengths + assorted other terms
    terms = ([f"the{'x' * i}" for i in range(12)]
             + [f"{'y' * i}the" for i in range(12)]
             + ["cat", "cart", "chart", "charts", "smart", "start"])
    df = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    banded = {(r["term"], r["rank"]): (r["similar_term"], r["cosine"])
              for r in skipgram_similarity_topk(df, k=4).collect()}
    bucketed = {(r["term"], r["rank"]): (r["similar_term"], r["cosine"])
                for r in skipgram_similarity_topk_bucketed(df, k=4).collect()}
    assert banded == bucketed and len(bucketed) > 0

    grams = char_skipgram_counts(df)
    hot = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n")) \
        .agg(F.max("n")).head()[0]
    hot_bucketed = grams.groupBy("gram", F.length("term").alias("l")) \
        .agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).head()[0]
    # the hottest raw gram key concentrates >= 3x more rows than any
    # (gram, length) key -> per-key quadratic fanout shrinks >= 9x
    assert hot >= 3 * hot_bucketed


def test_extract_mode_main_in_job(spark, tmp_path):
    """--extract-mode main routes the DOM-heuristic extractor through the
    job, and a mode switch invalidates manifest resume (new fingerprint)."""
    import json

    from pyspark.sql import functions as F

    from fuzzy_search_spark.__main__ import main

    page = (b"<html><body><nav><a href='/'>Home</a> <a href='/a'>A</a> "
            b"<a href='/b'>B</a></nav>"
            b"<article><p>Anthony Bosman, Makelaers tot Rotterdam, zullen "
            b"verkopen een schip met veel lading en toebehoren.</p>"
            b"</article></body></html>")
    src = tmp_path / "pages"
    spark.createDataFrame(
        [("u1", None, bytearray(page), None, "nl")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    phrases_file = tmp_path / "p.json"
    phrases_file.write_text(json.dumps(["Makelaers"]))
    config_file = tmp_path / "c.json"
    config_file.write_text(json.dumps({"char_match_threshold": 0.6,
                                       "levenshtein_threshold": 0.6}))
    out = str(tmp_path / "out")
    base = ["--input", str(src), "--output", out, "--phrases",
            str(phrases_file), "--config", str(config_file),
            "--num-groups", "1"]
    s1 = main(base + ["--extract-mode", "main"], spark=spark)
    assert s1["matches"] == 1
    # strip mode: nav junk present upstream of the match, offsets differ
    s2 = main(base + ["--extract-mode", "strip"], spark=spark)
    assert s2["ran"] == [0], "extractor change must invalidate resume"
    got = spark.read.parquet(out + "/matches").filter(
        F.col("phrase") == "Makelaers").collect()
    assert len(got) == 1


def test_single_scan_pattern_and_ngram_plans(spark):
    """Plan guard: multi-order ngram counts read the corpus ONCE
    (tagged-array explode), not once per order (unionAll re-scans)."""
    from pyspark.sql import functions as F

    from fuzzy_search_spark.analysis.freq import word_ngram_counts

    docs = spark.createDataFrame(
        [(i, f"u{i}", "the cat sat on the mat in Amsterdam 1725")
         for i in range(10)],
        "doc_id long, url string, text string")
    plan = word_ngram_counts(docs, max_n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    scans = plan.count("Scan parquet") + plan.count("Scan ExistingRDD")
    assert scans == 1 and "Union" not in plan
    # the order tag must be the ngram order, not the array index
    counts = word_ngram_counts(docs, max_n=3)
    per_n = {r["n"]: r["total"] for r in counts.groupBy("n").agg(
        F.sum("freq").alias("total")).collect()}
    assert per_n == {1: 90, 2: 80, 3: 70}


def test_video_and_audio_plumbing(spark):
    from fuzzy_search_spark.pipeline.multimodal import (
        audio_features,
        video_frame_features,
    )

    payloads = spark.createDataFrame(
        [("v1", b"\x00\x00\x00\x18ftypmp42" + b"x" * 64),
         ("v2", b"different payload bytes here")],
        "url string, payload binary")
    frames = video_frame_features(payloads, n_frames=3).collect()
    assert len(frames) == 6  # row per (video, frame)
    assert {(f.height, f.width) for f in frames} == {(16, 16)}
    assert sorted({f.frame_index for f in frames}) == [0, 1, 2]
    again = video_frame_features(payloads, n_frames=3).collect()
    assert sorted(map(str, frames)) == sorted(map(str, again))

    # audio_features skips non-audio payloads (the video rows), decodes
    # real WAV bytes, and fake-decodes compressed audio (ID3/mp3)
    import numpy as np

    from fuzzy_search_spark.pipeline.codecs import encode_wav

    wav = encode_wav(
        np.array([3000, -3000] * 100, dtype=np.int16), 16000)
    audio = spark.createDataFrame(
        [("a1", bytearray(wav)), ("a2", b"ID3" + b"z" * 64),
         ("v1", b"\x00\x00\x00\x18ftypmp42" + b"x" * 64)],
        "url string, payload binary")
    clips = {c.url: c for c in audio_features(audio).collect()}
    assert set(clips) == {"a1", "a2"}
    assert clips["a1"].n_samples == 200
    assert clips["a1"].sample_rate == 16000
    assert clips["a1"].zero_crossings == 199
    assert clips["a2"].n_samples == 1024 and 0.0 < clips["a2"].rms < 1.0


def test_match_documents_matchless_batch(spark):
    """A batch that produces ZERO matches must yield cleanly: pandas 2.x
    types empty frames float64 and Arrow cannot convert that to the
    list<string> label column (regression: crashed before the WARC e2e
    job exposed it)."""
    from fuzzy_search_spark.spark.job import match_documents

    model = compile_model(README_MODEL, README_CONFIG)
    docs = spark.createDataFrame(
        [(f"u{i}", "zzz qqq xxx nothing matches here") for i in range(8)]
        + [("u-empty", None)],
        "url string, text string")
    out = match_documents(docs, model)
    assert out.count() == 0
    assert out.schema["label"].dataType.simpleString() == "array<string>"


def test_match_job_plan_is_narrow(spark, pages_path):
    """The headline job (scan -> mapInPandas -> [write]) must stay a
    single narrow stage: no Exchange anywhere — the property that makes
    throughput scale linearly with executors at 10^12 rows."""
    from fuzzy_search_spark.spark.job import match_documents

    model = compile_model(README_MODEL, README_CONFIG)
    df = spark.read.parquet(pages_path)
    plan = match_documents(df, model)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan, plan
