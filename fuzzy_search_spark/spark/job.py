"""The distributed extraction + fuzzy-match job.

Plan shape per group (one narrow stage unless the group is spread):

    scan the group's own input files (parquet, or WARC via binaryFile;
         Iceberg: the table scan filtered on its ``_file`` column)
      -> [only when the group owns fewer files than defaultParallelism]
         repartition on xxhash64(url), so its rows fill every core
      -> mapInPandas(extract_html + the model's kernel [one Arrow-batched pass]
                     + pyarrow write of the task's own parquet file)
      -> collect the names of the files written

Parquet output is written inside the match task, not by Spark's parquet
writer: each task writes its matches with pyarrow (row groups flushed as
they fill) to a file under a unique attempt name in ``_staging/group=G/``
and returns one row, the file's name and row count.  The driver then
commits the group: it replaces ``matches/group=G/`` with exactly the files
those rows name, by rename through one ``pyarrow.fs`` handle, removes the
staging directory (with any failed or duplicate attempt's file) and only
then writes the group's metrics file and manifest line.  Iceberg output
still goes through the table writer.

The compiled model, phrase or token, is broadcast once per job
(`sc.broadcast`, before the first group that runs; every group's stage reads
that one copy) — the classic broadcast-hash-join shape: the tiny build side
(phrases) probes against the huge stream side (documents) inside the UDF.

Resumability: the job lists its input files once, sorts the listing and
splits it into ``num_groups`` groups; group ``g`` owns ``files[g::num_groups]``
and reads only those files, so the table is scanned once over the whole job.
The listing runs no Spark job: parquet is listed through a read given a
schema, and each group reads the columns it matches on with the types the
first file's footer gives them, so no read infers a schema.
Each group commits its output directory plus a manifest line (group id,
fingerprint, row counts, wall time).  Lines are appended in the order the
groups commit, not in group order.  A restarted job re-reads the manifest
and skips each group whose newest line carries the current fingerprint.  A
change of model (its kind too), config, extractor, input column names,
group count or file listing changes the fingerprint and invalidates old
groups; groups beyond the current count are removed.  A document is never
split across tasks, so a giant document still lands in one task
(chunk_chars bounds its memory, not its time).

Concurrency: two groups are in flight at a time (Iceberg, whose concurrent
table commits are untested here: one), each submitted from its own driver
thread that carries the caller's local properties (job group, tags) and
sets its own job description.  Spark's default FIFO scheduler runs the
first group's tasks first; the second group's fill the cores the first
leaves idle while its job starts, its last tasks run and it commits.

Lineage/metrics: a dict accumulator collects one row per *partition*
(docs, chars, matches, wall_ms) from inside the UDF; the driver persists
them per group under ``_metrics/``.  A partition that Spark computes more
than once (a re-executed stage, a speculative copy) keeps only its last
row.

Worker start-up: every function this module (or ``sources.warc``) ships to
Python workers calls :func:`spark.worker.drop_zip_importers` first thing.
PySpark's worker runs ``importlib.invalidate_caches()`` before each task,
and on Python >= 3.10 that re-reads the zip directory of every cached
``zipimporter`` (pyspark.zip's sub-packages, the spark-core jar, py4j):
most of a task's fixed cost on a short task.  Dropping them once per task
leaves a reused worker none to re-read.  A new worker-side function that
skips the call brings that cost back for every task of its stage.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator, List, Optional, Sequence, Union

import pandas as pd
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from pyspark import TaskContext, inheritable_thread_target
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema

from fuzzy_search_spark.extract import extract_html
from fuzzy_search_spark.matcher import find_matches, find_matches_chunked
from fuzzy_search_spark.model import CompiledModel
from fuzzy_search_spark.spark.worker import drop_zip_importers
from fuzzy_search_spark.token_matcher import TokenModel, find_token_matches


def read_pages(spark: SparkSession, input_path: Union[str, Sequence[str]],
               table_format: str = "parquet",
               schema: Optional[T.StructType] = None) -> DataFrame:
    """Read the web-pages table.  ``input_path`` is one path or, for
    ``parquet`` and ``warc``, a list of paths (the files of one group of
    :func:`run_extraction_job`).  ``schema`` (parquet) is the schema to
    read, columns and types, when the caller already has it, so the read
    infers none.
    ``table_format``:

    - ``parquet`` (default): a parquet directory or file path(s).
    - ``iceberg``: an Iceberg table identifier (``catalog.db.table``) or
      path, read via the Iceberg Spark runtime.  The sandbox ships no
      Iceberg jars, so this branch is exercised only on clusters whose
      session carries the Iceberg catalog config; the plan shape
      (scan -> narrow map -> write) is identical, plus snapshot-based
      incremental reads become available upstream of this function.
    - ``warc``: a directory of raw WARC/1.0 archives (Common Crawl
      layout, member-gzip or plain), parsed distributed by
      :func:`fuzzy_search_spark.sources.warc.read_warc` — one file per
      partition, shuffle-free.  ``text`` comes back NULL so the match
      stage extracts from ``html`` in the same pass (pair with
      ``extractor=sources.warc.extract_sniffed`` for charset-sniffed
      decoding instead of plain UTF-8).
    """
    paths = [input_path] if isinstance(input_path, str) else list(input_path)
    if table_format == "warc":
        from fuzzy_search_spark.sources.warc import read_warc

        files = spark.read.format("binaryFile").load(paths)
        return read_warc(files).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"))
    if table_format == "iceberg":
        try:
            return _read_iceberg(spark, input_path)
        except Exception as exc:  # pragma: no cover - needs iceberg jars
            raise RuntimeError(
                "table_format='iceberg' needs the Iceberg Spark runtime on "
                "the cluster (org.apache.iceberg:iceberg-spark-runtime) and "
                "a configured catalog") from exc
    if table_format != "parquet":
        raise ValueError(f"unknown table_format {table_format!r}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _read_iceberg(spark: SparkSession, table: str,
                  metadata: Optional[str] = None) -> DataFrame:
    """An Iceberg table, or its ``metadata`` table (``files``, ...).  A
    ``table`` with a ``/`` is a path, loaded through the iceberg source;
    anything else is a catalog name."""
    if "/" in table:
        return spark.read.format("iceberg").load(
            table if metadata is None else f"{table}#{metadata}")
    return spark.read.table(table if metadata is None
                            else f"{table}.{metadata}")


MATCH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("phrase", T.StringType()),
    T.StructField("variant", T.StringType()),
    T.StructField("string", T.StringType()),
    T.StructField("offset", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("label", T.ArrayType(T.StringType())),
    T.StructField("ignorecase", T.BooleanType()),
    T.StructField("char_match", T.DoubleType()),
    T.StructField("ngram_match", T.DoubleType()),
    T.StructField("levenshtein_similarity", T.DoubleType()),
])

_MATCH_COLUMNS = [f.name for f in MATCH_SCHEMA.fields]
_ARROW_SCHEMA = to_arrow_schema(MATCH_SCHEMA)
# the match stage's rows when it writes its own files (_match_broadcast)
_PART_SCHEMA = T.StructType([T.StructField("file", T.StringType()),
                             T.StructField("rows", T.LongType())])
_ROW_GROUP_ROWS = 1 << 17   # matches per parquet row group a task buffers


class _MetricsParam(AccumulatorParam):
    """Accumulates {partition_id: [docs, chars, matches, wall_ms]}, one row
    per partition: a partition computed again replaces its earlier row
    instead of being counted twice."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _label_list(label) -> Optional[List[str]]:
    if label is None:
        return None
    if isinstance(label, str):
        return [label]
    return list(label)


def _kernel(model: Union[CompiledModel, TokenModel],
            chunk_chars: Optional[int] = None):
    """``(kernel, ignorecase)`` for ``model``: ``kernel(text, model)`` is
    the per-document matcher, ``ignorecase`` the value of the rows' column.
    The token searcher never lowercases, and has no chunked form."""
    if isinstance(model, TokenModel):
        if chunk_chars:
            raise ValueError("chunk_chars does not apply to a TokenModel")
        return find_token_matches, False
    if chunk_chars:
        # falls back to find_matches for a text of at most chunk_chars
        return (functools.partial(find_matches_chunked,
                                  chunk_chars=chunk_chars),
                model.config.ignorecase)
    return find_matches, model.config.ignorecase


def match_documents(df: DataFrame, model: CompiledModel,
                    url_col: str = "url", text_col: str = "text",
                    html_col: Optional[str] = None,
                    chunk_chars: Optional[int] = None,
                    extractor=None,
                    metrics_acc=None) -> DataFrame:
    """Run the fuzzy-match pipeline over a documents DataFrame (the token
    pipeline for a ``TokenModel``).

    Returns the exploded matches table (MATCH_SCHEMA).  When ``html_col`` is
    given, rows with NULL ``text_col`` are extracted from html in the same
    pass (no extra stage).  ``chunk_chars`` bounds per-document memory for
    giant documents via exactness-preserving chunked matching
    (matcher.find_matches_chunked).  ``extractor`` overrides the payload->
    text function (default :func:`extract.extract_html`; alternatives:
    ``extract.extract_main_content`` for DOM-heuristic boilerplate
    removal, ``extract.extract_payload`` for mixed HTML/PDF/plain tables —
    must be a deterministic top-level callable, it ships to executors).
    """
    kernel, ignorecase = _kernel(model, chunk_chars)
    return _match_broadcast(df, df.sparkSession.sparkContext.broadcast(model),
                            kernel, ignorecase, url_col, text_col, html_col,
                            extractor, metrics_acc)


def match_documents_tokens(df: DataFrame, token_model,
                           url_col: str = "url", text_col: str = "text",
                           html_col: Optional[str] = None,
                           extractor=None) -> DataFrame:
    """Token-level fuzzy match over a documents DataFrame (the fast,
    slightly-less-exhaustive pipeline).  Same broadcast + mapInPandas shape
    as match_documents; char/ngram scores are NULL by design (the token
    searcher computes only the Levenshtein ratio)."""
    return match_documents(df, token_model, url_col, text_col, html_col,
                           extractor=extractor)


def _match_broadcast(df: DataFrame, bc_model, kernel, ignorecase: bool,
                     url_col: str, text_col: str, html_col: Optional[str],
                     extractor, metrics_acc,
                     staging: Optional[str] = None) -> DataFrame:
    """The match stage of both pipelines over a model already broadcast as
    ``bc_model`` (so :func:`run_extraction_job` ships it once per job, not
    once per group): ``kernel(text, model)`` (from :func:`_kernel`) runs
    on each document with text.

    Returns the matches (MATCH_SCHEMA), or, with ``staging``, writes them
    from the task as one parquet file per partition under ``staging`` (a
    unique name per task attempt; a partition without matches writes
    none) and returns one row per file written: ``file`` (its name) and
    ``rows``."""
    use_html = html_col is not None
    extract_fn = extractor if extractor is not None else extract_html
    cols = [url_col, text_col] + ([html_col] if use_html else [])

    def match_columns(batches: Iterator[pd.DataFrame]) -> Iterator[dict]:
        """One dict of MATCH_SCHEMA columns per input batch with a match."""
        drop_zip_importers()
        compiled = bc_model.value
        t0 = time.monotonic()
        docs = chars = matched = 0
        for pdf in batches:
            out = {c: [] for c in _MATCH_COLUMNS}
            urls = pdf[url_col].tolist()
            texts = pdf[text_col].tolist()
            htmls = pdf[html_col].tolist() if use_html else None
            for ri, url in enumerate(urls):
                text = texts[ri]
                if text is None and use_html:
                    text = extract_fn(htmls[ri])
                if not text:
                    continue
                docs += 1
                chars += len(text)
                for m in kernel(text, compiled):
                    matched += 1
                    out["url"].append(url)
                    out["phrase"].append(m.phrase)
                    out["variant"].append(m.variant)
                    out["string"].append(m.string)
                    out["offset"].append(m.offset)
                    out["end"].append(m.end)
                    out["label"].append(_label_list(m.label))
                    out["ignorecase"].append(ignorecase)
                    out["char_match"].append(m.char_match)
                    out["ngram_match"].append(m.ngram_match)
                    out["levenshtein_similarity"].append(m.levenshtein_similarity)
            if out["url"]:
                yield out
        if metrics_acc is not None:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else -1
            wall_ms = int((time.monotonic() - t0) * 1000)
            metrics_acc.add({pid: [docs, chars, matched, wall_ms]})

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # only non-empty frames: pandas 2.x types empty frames float64,
        # which Arrow cannot convert to the list<string> label column
        return map(pd.DataFrame, match_columns(batches))

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tables = (pa.Table.from_pydict(out, schema=_ARROW_SCHEMA)
                  for out in match_columns(batches))
        row_groups = _row_groups(tables, _ROW_GROUP_ROWS)
        first = next(row_groups, None)
        if first is None:
            return
        name = (f"part-{TaskContext.get().partitionId():05d}-"
                f"{uuid.uuid4().hex}.parquet")
        fs, root = pafs.FileSystem.from_uri(staging)
        rows = 0
        with pq.ParquetWriter(f"{root}/{name}", _ARROW_SCHEMA, filesystem=fs,
                              store_schema=False) as writer:
            for table in itertools.chain([first], row_groups):
                writer.write_table(table)
                rows += table.num_rows
        yield pd.DataFrame({"file": [name], "rows": [rows]})

    if staging is None:
        return df.select(*cols).mapInPandas(process, MATCH_SCHEMA)
    return df.select(*cols).mapInPandas(write, _PART_SCHEMA)


def _row_groups(tables: Iterator[pa.Table], size: int) -> Iterator[pa.Table]:
    """``tables`` concatenated into row groups of at least ``size`` rows
    (the last one may hold fewer), so a task holds one row group at most."""
    pending: List[pa.Table] = []
    rows = 0
    for table in tables:
        pending.append(table)
        rows += table.num_rows
        if rows >= size:
            yield pa.concat_tables(pending)
            pending, rows = [], 0
    if pending:
        yield pa.concat_tables(pending)


def _commit_group(fs: pafs.FileSystem, staging: str, target: str,
                  parts: Sequence) -> int:
    """Replace the directory ``target`` with exactly the staged files that
    ``parts`` (the ``file``, ``rows`` rows of the match stage) name, by
    rename, then remove ``staging`` with whatever else it holds: a failed
    or duplicate attempt's file is never named.  A group without any
    match gets one empty file, so its directory still carries the schema.
    Returns the rows committed."""
    fs.delete_dir_contents(target, missing_dir_ok=True)
    fs.create_dir(target)
    for part in parts:
        fs.move(f"{staging}/{part['file']}", f"{target}/{part['file']}")
    if not parts:
        pq.write_table(_ARROW_SCHEMA.empty_table(),
                       f"{target}/part-empty.parquet", filesystem=fs,
                       store_schema=False)
    fs.delete_dir(staging)
    return sum(part["rows"] for part in parts)


def _read_manifest(path: str) -> List[dict]:
    """The entries of the manifest at ``path`` (none if it is absent).

    A crash in the middle of an append leaves a last line that does not
    parse, or one that parses but lacks its newline.  Either way its group
    never committed, so the line is cut off the file and the group runs
    again (and replaces its own output); the next append then starts on a
    line of its own.  A line that does not parse anywhere else raises."""
    if not os.path.exists(path):
        return []
    with open(path, "rb") as fh:
        lines = fh.readlines()
    entries = [json.loads(line) for line in lines[:-1]]
    try:
        entries += [json.loads(line) for line in lines[-1:]
                    if line.endswith(b"\n")]
    except ValueError:
        pass
    if len(entries) < len(lines):
        with open(path, "r+b") as fh:
            fh.truncate(sum(map(len, lines[:-1])))
    return entries


def _list_input_files(spark: SparkSession, input_path: str,
                      table_format: str) -> List[str]:
    """The sorted data files of the input table.  Parquet is listed through
    a read given a schema, so it runs no schema-inference job; WARC through
    ``binaryFile``, whose schema is fixed.  An Iceberg table lists none
    through ``inputFiles()``, so its data files come from the table's
    ``files`` metadata table.  A parquet or WARC input without files
    raises."""
    if table_format == "iceberg":
        meta = _read_iceberg(spark, input_path, "files")
        return sorted(r.file_path for r in meta.filter("content = 0")
                      .select("file_path").collect())
    if table_format == "warc":
        reader = spark.read.format("binaryFile")
    else:
        # any schema will do: only the listing is used
        reader = spark.read.format(table_format).schema("url string")
    files = sorted(reader.load(input_path).inputFiles())
    if not files:
        raise ValueError(f"no input files under {input_path!r}")
    return files


def _read_schema(spark: SparkSession, first_file: str,
                 columns: Sequence[str]) -> T.StructType:
    """The Spark types of ``columns`` (those the footer of the parquet file
    ``first_file`` has; names match as Spark's do, ignoring case) as
    Spark's own inference gives them, read from that footer with no Spark
    job.  Only these columns: converting the whole footer would type a
    naive timestamp as ``timestamp`` where Spark infers ``timestamp_ntz``,
    and hand the read a nanosecond timestamp that Spark cannot read."""
    wanted = {c.lower() for c in columns}
    try:
        fs, path = pafs.FileSystem.from_uri(first_file)
    except (pa.ArrowInvalid, OSError):
        # a scheme pyarrow has no filesystem for (s3a://, ...): let Spark
        # infer the schema, at the cost of its job
        return T.StructType([f for f in spark.read.parquet(first_file).schema
                             if f.name.lower() in wanted])
    return T.StructType([T.StructField(f.name, from_arrow_type(f.type))
                         for f in pq.read_schema(path, filesystem=fs)
                         if f.name.lower() in wanted])


def _drop_groups_from(spark: SparkSession, output_path: str, num_groups: int,
                      entries: List[dict], manifest_path: str,
                      table_format: str) -> List[dict]:
    """Remove what a run with more groups left behind: the manifest lines,
    matches and metrics of every group >= ``num_groups``.  Returns the
    manifest entries kept.  The manifest is rewritten first, so a crash
    part-way leaves output that the next run removes again, never a line
    that vouches for removed output."""
    kept = [e for e in entries if e["group"] < num_groups]
    if len(kept) < len(entries):
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in kept)
        os.replace(tmp, manifest_path)
    dirs = [(os.path.join(output_path, "_metrics"), ".json")]
    if table_format == "iceberg":
        if spark.catalog.tableExists(output_path):
            # an empty overwrite deletes the rows its condition selects
            (spark.createDataFrame([], MATCH_SCHEMA)
             .withColumn("group", F.lit(0))
             .writeTo(output_path).overwrite(F.col("group") >= num_groups))
    else:
        dirs.append((os.path.join(output_path, "matches"), ""))
    for base, suffix in dirs:
        for name in os.listdir(base) if os.path.isdir(base) else []:
            group = name[len("group="):len(name) - len(suffix)]
            if not (name.startswith("group=") and name.endswith(suffix)
                    and group.isdigit() and int(group) >= num_groups):
                continue
            path = os.path.join(base, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
    return kept


def run_extraction_job(spark: SparkSession, input_path: str, output_path: str,
                       model: Union[CompiledModel, TokenModel], *,
                       num_groups: int = 4, resume: bool = True,
                       url_col: str = "url", text_col: str = "text",
                       html_col: Optional[str] = "html",
                       chunk_chars: Optional[int] = None,
                       table_format: str = "parquet",
                       extractor=None) -> dict:
    """End-to-end resumable job: read -> (extract) -> match -> write, with
    the phrase matcher for a ``CompiledModel`` and the token matcher for a
    ``TokenModel`` (whose rows carry NULL char and ngram scores and
    ``ignorecase`` False; ``chunk_chars`` with it raises ``ValueError``).

    The input is listed once, with no Spark job (parquet: a read given a
    schema; WARC: ``binaryFile``).  A parquet group reads only the columns
    it matches on, typed from the first file's footer, so no group infers
    a schema either; the job never reads any other column.

    Group ``g`` reads only ``files[g::num_groups]`` of the sorted input
    listing, in one narrow stage; a group that owns no file commits an
    empty output with ``docs`` = 0.  A task reads whole files (WARC does
    not split, nor does a parquet file of one row group), so a group that
    owns fewer files than ``defaultParallelism`` would leave cores idle:
    its rows are spread over that many partitions by url hash first, at
    the cost of one shuffle of the group's rows.  Groups >= ``num_groups``
    that an earlier run left in ``output_path`` are removed first.

    Two groups are in flight at a time (Iceberg: one), each from its own
    driver thread with the caller's local properties (job group, tags)
    and a job description ``fuzzy-spark group G/N``.  Under Spark's FIFO
    scheduler the second group's tasks fill the cores while the first
    starts, runs its last tasks and commits.  If a group fails, no further
    group starts; the one still in flight finishes and commits, and then
    the first error is raised.

    Output layout:
        <output>/matches/group=G/*.parquet
        <output>/_staging/group=G/         a running group's task files;
                                           gone once the job ends
        <output>/_metrics/group=G.json     the group's files and
                                           per-partition lineage rows
        <output>/_manifest.jsonl           one line per committed group,
                                           in the order they committed

    A group commits in this order: its task files move from ``_staging``
    into ``matches/group=G/`` (replacing what was there), its staging
    directory goes, then ``_metrics/group=G.json`` and the manifest line
    are written.  A crash before the line leaves a group that the next
    run does again; that run also removes whatever ``_staging`` holds.
    """
    kernel, ignorecase = _kernel(model, chunk_chars)
    files = _list_input_files(spark, input_path, table_format)

    # a TokenModel's starts "token:": a switch of matcher reruns every group
    fingerprint = model.fingerprint()
    if extractor is not None:
        # a different payload->text function changes every downstream row:
        # resume must not skip groups committed under another extractor
        fingerprint += f":{extractor.__module__}.{extractor.__qualname__}"
    # so do the columns the rows are read from, and which files a group owns
    listing = hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]
    fingerprint += (f":url={url_col}:text={text_col}:html={html_col}"
                    f":groups={num_groups}:files={listing}")
    if table_format == "iceberg":
        state_root = output_path
    else:
        # one handle for the staging and final directories of every group
        fs, root = pafs.FileSystem.from_uri(
            output_path if "://" in output_path
            else os.path.abspath(output_path))
        # the manifest and metrics are written through os.*, which reads a
        # file:// URI as a relative path: on a local filesystem they take
        # the matches' root instead
        state_root = (root if isinstance(fs, pafs.LocalFileSystem)
                      else output_path)
    manifest_path = os.path.join(state_root, "_manifest.jsonl")
    metrics_dir = os.path.join(state_root, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)

    # read even without resume: it cuts a torn last line before the
    # appends below.  A group's directory holds the rows of its newest
    # line only, so an older line with this fingerprint proves nothing.
    entries = _drop_groups_from(spark, state_root, num_groups,
                                _read_manifest(manifest_path),
                                manifest_path, table_format)
    newest = {entry["group"]: entry for entry in entries}
    done = set()
    if resume:
        done = {group for group, entry in newest.items()
                if entry.get("fingerprint") == fingerprint}
    todo = [group for group in range(num_groups) if group not in done]

    summary = {"groups": num_groups, "skipped": sorted(done), "ran": [],
               "fingerprint": fingerprint, "docs": 0, "matches": 0}
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    if table_format == "iceberg":
        table = read_pages(spark, input_path, table_format)
    else:
        schema = (_read_schema(spark, files[0],
                               [c for c in (url_col, text_col, html_col) if c])
                  if table_format == "parquet" else None)
    # broadcast once, before the first group, from the caller's thread
    bc_model = sc.broadcast(model) if todo else None
    lock = threading.Lock()     # the manifest and the summary
    errors: List[BaseException] = []

    def guarded(group: int) -> None:
        if errors:
            return              # a group failed: start no further group
        try:
            run_group(group)
        except BaseException as exc:
            errors.append(exc)

    def run_group(group: int) -> None:
        sc.setJobDescription(f"fuzzy-spark group {group}/{num_groups}")
        t0 = time.monotonic()
        acc = sc.accumulator({}, _MetricsParam())
        own = files[group::num_groups]
        if table_format == "iceberg":
            # assumes Iceberg prunes data files on a `_file` predicate;
            # unchecked, since no Iceberg runtime is at hand
            part = table.filter(F.col("_file").isin(own))
        else:
            part = read_pages(spark, own, table_format, schema=schema)
        if 0 < len(own) < cores:
            part = part.repartition(cores, F.xxhash64(F.col(url_col)))
        staging = (None if table_format == "iceberg"
                   else f"{root}/_staging/group={group}")
        matches = _match_broadcast(part, bc_model, kernel, ignorecase,
                                   url_col, text_col, html_col, extractor,
                                   acc, staging)
        if staging is None:
            # replaces the group's earlier rows even when this run has none
            (matches.withColumn("group", F.lit(group)).writeTo(output_path)
             .overwrite(F.col("group") == group))
        else:
            fs.create_dir(staging)
            written = _commit_group(fs, staging,
                                    f"{root}/matches/group={group}",
                                    matches.collect())
        wall = time.monotonic() - t0

        partition_metrics = [
            {"partition_id": pid, "docs": v[0], "chars": v[1],
             "matches": v[2], "wall_ms": v[3]}
            for pid, v in sorted(acc.value.items())
        ]
        docs = sum(m["docs"] for m in partition_metrics)
        nmatches = (written if staging is not None
                    else sum(m["matches"] for m in partition_metrics))
        with open(os.path.join(metrics_dir, f"group={group}.json"), "w") as fh:
            json.dump({"group": group, "fingerprint": fingerprint,
                       "wall_s": wall, "docs": docs, "matches": nmatches,
                       "files": own, "partitions": partition_metrics},
                      fh, indent=1)
        with lock:
            with open(manifest_path, "a") as fh:
                fh.write(json.dumps({
                    "group": group, "fingerprint": fingerprint, "docs": docs,
                    "matches": nmatches, "wall_s": round(wall, 3)}) + "\n")
            summary["ran"].append(group)
            summary["docs"] += docs
            summary["matches"] += nmatches

    with ThreadPoolExecutor(1 if table_format == "iceberg" else 2) as pool:
        for group in todo:
            # wrapped one by one: each copy of the caller's properties is
            # its own, so a group's job description stays on its jobs
            pool.submit(inheritable_thread_target(spark)(guarded), group)
    if (table_format != "iceberg" and fs.get_file_info(
            f"{root}/_staging").type != pafs.FileType.NotFound):
        # the staging root, with what a failed group or a crashed earlier
        # run left in it
        fs.delete_dir(f"{root}/_staging")
    if errors:
        raise errors[0]
    summary["ran"].sort()
    return summary
