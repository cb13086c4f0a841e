"""fuzzy_search_spark benchmark: closed-loop batch Spark jobs at local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py                  # every workload, both runs
    python3 perfbench/run.py --workload pages_phrase --seed 1 --seconds 6 --trace 0

One job runs at a time; the next is submitted after the previous one has
committed its output.  Each workload has a timed run (tracing off; prints the
end-to-end metrics) and a separate traced run (prints the per-layer metrics
and the tracing overhead).  ``--trace 0`` runs only the timed run, ``--trace
1`` only the traced run; without ``--trace`` both run.  Both runs apply every
correctness gate.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; any correctness mismatch
exits non-zero.  See perfbench/README.md for the workloads and the metric
definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import sys
import threading
import time
from typing import Callable, Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# the package is imported from the checkout, never from site-packages
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import measure  # noqa: E402
from fuzzy_search_spark.extract import extract_html  # noqa: E402
from fuzzy_search_spark.fixtures import README_CONFIG, README_MODEL  # noqa: E402
from fuzzy_search_spark.matcher import find_matches  # noqa: E402
from fuzzy_search_spark.model import compile_model  # noqa: E402
from fuzzy_search_spark.token_matcher import (  # noqa: E402
    compile_token_model,
    find_token_matches,
)

WORKLOADS = ("pages_phrase", "wet_token_dict", "boilerplate_resume")
NPROC = len(os.sched_getaffinity(0))
SHARDS = 2 * NPROC      # input files; one task each, so stragglers rebalance
SETUPS = 3              # set-ups per run; setup_s is their median
# untimed full jobs per session, so the token matcher's probe cache in the
# workers (new ones each session) is as warm in every session; the first
# session runs one more, which the JVM's C1 code still needs
WARM_JOBS = 1
FIRST_WARM_JOBS = 2
MIN_JOBS = 2            # timed jobs per session, even past its share
LOCAL1_JOBS = 2         # local[1] jobs behind spark.job.scaling_eff
TRACED_JOBS = 2         # jobs per side (untraced / traced) in the traced run
NUM_GROUPS = 2          # run_extraction_job groups of boilerplate_resume
INTERRUPT_AFTER = 1     # committed groups before the interrupt

MATCH_COLUMNS = ["url", "phrase", "variant", "string", "offset", "end",
                 "label", "ignorecase", "char_match", "ngram_match",
                 "levenshtein_similarity"]


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def timed(fn: Callable[[], None]) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# Inputs, jobs and the in-process recomputation
# ---------------------------------------------------------------------------

class Workload:
    """Generated inputs plus the job and the in-process recomputation of
    one workload.  ``kind`` is ``phrase`` (match_documents, html extracted
    in the job), ``token`` (match_documents_tokens over populated text) or
    ``extraction`` (run_extraction_job: groups, url salt, manifest)."""

    def __init__(self, name: str, seed: int, work: str):
        self.name = name
        self.seed = seed
        if name == "pages_phrase":
            self.kind, self.payload = "phrase", "html"
            self.rows = corpus.phrase_pages(seed)
        elif name == "wet_token_dict":
            self.kind, self.payload = "token", "text"
            self.rows = corpus.wet_records(seed)
            self.phrases = corpus.token_dictionary(
                [r["text"] for r in self.rows], seed)
        elif name == "boilerplate_resume":
            self.kind, self.payload = "extraction", "html"
            self.rows = corpus.boilerplate_pages(seed)
        else:
            raise ValueError(f"unknown workload {name!r}")
        self.docs = len(self.rows)
        self.payload_mb = corpus.payload_mb(self.rows, self.payload)
        self.input_path = os.path.join(work, "input")
        corpus.write_shards(self.rows, self.input_path, SHARDS,
                            keep_text=self.kind == "token")
        # the first NPROC shards: enough tasks to start every Python worker
        # in the warm-up, and the local[1] input behind scaling_eff
        self.subset_path = os.path.join(work, "input_subset")
        os.makedirs(self.subset_path)
        for f in range(NPROC):
            name = f"part-{f:05d}.parquet"
            shutil.copyfile(os.path.join(self.input_path, name),
                            os.path.join(self.subset_path, name))
        self.subset_mb = sum(
            corpus.payload_mb(self.rows[f::SHARDS], self.payload)
            for f in range(NPROC))

    def compile(self):
        if self.kind == "token":
            return compile_token_model(self.phrases, {})
        return compile_model(README_MODEL, README_CONFIG)

    def matches_df(self, spark, model, path: str):
        from fuzzy_search_spark.spark.job import (
            match_documents,
            match_documents_tokens,
        )

        df = spark.read.parquet(path)
        if self.kind == "token":
            return match_documents_tokens(df, model)
        return match_documents(df, model, html_col="html")

    def sink(self, spark, model, fmt: str, path: str,
             out: Optional[str] = None) -> None:
        """The workload's match DataFrame over ``path`` into the ``fmt``
        sink (``out`` is the path of a file sink)."""
        writer = self.matches_df(spark, model, path).write.format(fmt).mode(
            "overwrite")
        if out:
            writer.save(out)
        else:
            writer.save()

    def run_job(self, spark, model, out: str,
                path: Optional[str] = None) -> None:
        """One closed-loop operation: read -> match -> commit to ``out``."""
        if self.kind == "extraction":
            from fuzzy_search_spark.spark.job import run_extraction_job

            run_extraction_job(spark, path or self.input_path, fresh(out),
                               model, num_groups=NUM_GROUPS, resume=False)
        else:
            self.sink(spark, model, "parquet", path or self.input_path, out)

    def warm_up(self, spark, model) -> None:
        """Start every Python worker, ship the broadcast and run the UDF."""
        self.sink(spark, model, "noop", self.subset_path)

    def expected(self, model,
                 tracer: Optional[measure.Tracer] = None) -> List[tuple]:
        """Recompute the job's output rows over every document in-process
        through the public kernels.  With a tracer, each call is a span."""
        return expected_rows(self.kind, model, self.rows, tracer)

    def check(self, out: str, digest: str) -> List[str]:
        """Correctness gate of one committed job output."""
        problems = []
        if measure.rows_digest(read_output(out)) != digest:
            problems.append("Spark output differs from the in-process "
                            "recomputation over all documents")
        if self.kind == "extraction":
            groups = manifest_groups(out)
            if groups != list(range(NUM_GROUPS)):
                problems.append(f"manifest groups {groups} are not each of "
                                f"0..{NUM_GROUPS - 1} exactly once")
        return problems


def expected_rows(kind: str, model, rows: List[dict],
                  tracer: Optional[measure.Tracer] = None) -> List[tuple]:
    tracer = tracer or measure.Tracer(False)
    out: List[tuple] = []
    for r in rows:
        if kind == "token":
            with tracer.span("token_matcher"):
                matches = find_token_matches(r["text"], model)
            ignorecase = False
        else:
            with tracer.span("extract"):
                text = extract_html(r["html"])
            if not text:
                continue
            with tracer.span("matcher"):
                matches = find_matches(text, model)
            ignorecase = model.config.ignorecase
        out.extend(
            (r["url"], m.phrase, m.variant, m.string, m.offset, m.end,
             _label(m.label), ignorecase, m.char_match, m.ngram_match,
             m.levenshtein_similarity) for m in matches)
    return out


def _label(label):
    if label is None:
        return None
    if isinstance(label, str):
        return (label,)
    return tuple(label)


def read_output(path: str) -> List[tuple]:
    """Every match row under ``path`` (any layout of parquet part files)."""
    rows: List[tuple] = []
    for dirpath, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".parquet"):
                table = pq.read_table(os.path.join(dirpath, name),
                                      columns=MATCH_COLUMNS)
                rows.extend(
                    tuple(_label(v) if c == "label" else v
                          for c, v in zip(MATCH_COLUMNS, rec.values()))
                    for rec in table.to_pylist())
    return rows


def output_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def read_manifest(out: str) -> List[dict]:
    with open(os.path.join(out, "_manifest.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def manifest_groups(out: str) -> List[int]:
    return sorted(entry["group"] for entry in read_manifest(out))


# ---------------------------------------------------------------------------
# Spark sessions
# ---------------------------------------------------------------------------

def prepare_environment(work: str) -> None:
    """Set before the JVM starts: workers import the package from the
    checkout (the --py-files shape, via PYTHONPATH) and every scratch file
    lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp


def spark_conf(work: str, event_log: Optional[str] = None) -> Dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        # a fixed-size heap: the JVM's footprint settles within a few jobs
        # instead of following G1's adaptive sizing, so peak_rss_mb is steady.
        # C1 only: with C2 the driver's per-job work kept getting faster for
        # dozens of jobs, at a pace set by how much CPU the JIT threads won
        # from the workers, so where a run's window fell on that curve moved
        # its figures; with C1 jobs are as fast by the second job as after
        # fifty, and C2 gained nothing on these jobs
        "spark.driver.memory": "512m",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms512m "
            "-XX:TieredStopAtLevel=1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.files.minPartitionNum": str(SHARDS),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(master: str, conf: Dict[str, str]):
    from fuzzy_search_spark.spark.session import get_spark

    spark = get_spark(master=master, app_name="perfbench", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(wl: Workload, master: str, conf: Dict[str, str]):
    """Session start, model compile, broadcast and warm-up pass (the
    broadcast happens inside the warm-up job)."""
    t0 = time.monotonic()
    spark = start_session(master, conf)
    model = wl.compile()
    wl.warm_up(spark, model)
    return spark, model, time.monotonic() - t0


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Interrupt and resume (boilerplate_resume)
# ---------------------------------------------------------------------------

def resume_cycle(spark, model, wl: Workload, work: str, digest: str,
                 tracer: measure.Tracer) -> dict:
    """Interrupt run_extraction_job once INTERRUPT_AFTER groups have
    committed, restart it with ``resume=True`` and gate the result: the
    resumed output must equal an uninterrupted run's, the restart must skip
    the committed groups, and the manifest must list each group once."""
    from fuzzy_search_spark.spark.job import run_extraction_job

    out = fresh(os.path.join(work, "resumed"))
    with tracer.span("resume.interrupted"):
        interrupt(spark, lambda: run_extraction_job(
            spark, wl.input_path, out, model, num_groups=NUM_GROUPS),
            os.path.join(out, "_manifest.jsonl"))
    spark.sparkContext.setJobGroup("perfbench-resume", "resumed job")
    t0 = time.monotonic()
    with tracer.span("resume"):
        summary = run_extraction_job(spark, wl.input_path, out, model,
                                     num_groups=NUM_GROUPS, resume=True)
    resume_s = time.monotonic() - t0
    problems = [f"resumed run: {p}" for p in wl.check(out, digest)]
    if not summary["skipped"]:
        problems.append("resume skipped no committed group")
    return {"problems": problems, "resume_s": resume_s,
            "groups_skipped": len(summary["skipped"]),
            "docs_redone": summary["docs"]}


def interrupt(spark, job: Callable[[], None], manifest: str) -> None:
    """Run ``job`` and cancel its Spark jobs once ``manifest`` shows
    INTERRUPT_AFTER committed groups."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            if os.path.exists(manifest):
                with open(manifest) as fh:
                    if sum(1 for _ in fh) >= INTERRUPT_AFTER:
                        sc.cancelJobGroup("perfbench-interrupt")
            stop.wait(0.005)

    sc.setJobGroup("perfbench-interrupt", "interrupted run", True)
    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        job()
    except Py4JJavaError:
        return  # the cancelled group's job
    finally:
        stop.set()
        watcher.join()
    raise RuntimeError("the job finished before the interrupt")


# ---------------------------------------------------------------------------
# Timed run (end-to-end metrics)
# ---------------------------------------------------------------------------

def timed_run(wl: Workload, seconds: float, work: str) -> dict:
    """SETUPS sessions, each set up (timed) and then given an equal share of
    the window.  The host's speed drifts over tens of seconds, so jobs
    spread over every session sample more of it than one window would."""
    conf = spark_conf(work)
    master = f"local[{NPROC}]"
    out = os.path.join(work, "out")
    setup_walls: List[float] = []
    walls: List[float] = []
    peaks: List[int] = []
    problems: List[str] = []
    failed = 0
    for i in range(SETUPS):
        spark, model, wall = setup(wl, master, conf)
        setup_walls.append(wall)
        if i == 0:
            digest = measure.rows_digest(wl.expected(model))
        for k in range(FIRST_WARM_JOBS if i == 0 else WARM_JOBS):
            wl.run_job(spark, model, out)
            problems += [f"session {i + 1} warm job {k + 1}: {p}"
                         for p in wl.check(out, digest)]
        session_walls: List[float] = []
        with measure.PeakMemorySampler() as memory:
            deadline = time.monotonic() + seconds / SETUPS
            while (len(session_walls) < MIN_JOBS
                   or time.monotonic() < deadline):
                session_walls.append(
                    timed(lambda: wl.run_job(spark, model, out)))
                job_problems = wl.check(out, digest)
                failed += bool(job_problems)
                problems += [f"job {len(walls) + len(session_walls)}: {p}"
                             for p in job_problems]
        peaks.append(memory.peak_bytes)
        walls += session_walls
        log(f"session {i + 1}/{SETUPS}: setup {wall:.2f} s, "
            f"{len(session_walls)} jobs at {master}: "
            f"{['%.2f' % w for w in session_walls]}")
        if i < SETUPS - 1:
            spark.stop()
    if wl.kind == "extraction":
        problems += resume_cycle(spark, model, wl, work, digest,
                                 measure.Tracer(False))["problems"]
    spark.stop()

    wall_s = measure.median(walls)
    metrics = {
        "wall_s": (wall_s, "s"),
        "docs_per_s": (wl.docs / wall_s, "docs/s"),
        "mb_per_s": (wl.payload_mb / wall_s, "MB/s"),
        "setup_s": (measure.median(setup_walls), "s"),
        "peak_rss_mb": (max(peaks) / 1e6, "MB"),
    }
    return {"problems": problems, "attempted": len(walls),
            "failed": failed, "metrics": metrics}


# ---------------------------------------------------------------------------
# Traced run (per-layer metrics)
# ---------------------------------------------------------------------------

def traced_run(wl: Workload, work: str) -> dict:
    tracer = measure.Tracer(True)
    with tracer.span("run", workload=wl.name, seed=wl.seed):
        result = _traced_run(wl, work, tracer)
    tracer.dump(os.path.join(WORK, f"spans-{wl.name}.jsonl"))
    return result


def _traced_run(wl: Workload, work: str, tracer: measure.Tracer) -> dict:
    master = f"local[{NPROC}]"
    out = os.path.join(work, "out")
    sink_out = os.path.join(work, "sink")

    # untraced side: the timed run's session shape
    with tracer.span("spark.session") as span:
        spark = start_session(master, spark_conf(work))
    session_s = span["end"] - span["start"]
    compile_walls = []
    for _ in range(SETUPS):
        with tracer.span("model.compile") as span:
            model = wl.compile()
        compile_walls.append(span["end"] - span["start"])
    wl.warm_up(spark, model)
    untraced = [timed(lambda: wl.run_job(spark, model, out))
                for _ in range(TRACED_JOBS)]
    match_rows = len(read_output(out))
    write_bytes = output_bytes(out)
    # write layer: match_documents into parquet minus the same into noop
    parquet = untraced if wl.kind != "extraction" else [
        timed(lambda: wl.sink(spark, model, "parquet", wl.input_path,
                              sink_out)) for _ in range(TRACED_JOBS)]
    noop = [timed(lambda: wl.sink(spark, model, "noop", wl.input_path))
            for _ in range(TRACED_JOBS)]
    spark.stop()

    # in-process kernels on the same documents, single core
    expected = wl.expected(model, tracer)
    digest = measure.rows_digest(expected)
    problems = [f"untraced job: {p}" for p in wl.check(out, digest)]
    if wl.kind != "token":
        for r in wl.rows:
            text = extract_html(r["html"])
            with tracer.span("matcher.scan"):
                model.scanner.scan_arrays(text)

    # traced side: the event log is on for this session only
    event_dir = os.path.join(work, "events")
    spark = start_session(master, spark_conf(work, event_log=event_dir))
    sc = spark.sparkContext
    wl.warm_up(spark, model)
    traced = []
    for i in range(TRACED_JOBS):
        sc.setJobGroup(f"perfbench-job-{i}", "traced job")
        with tracer.span("spark.job", job=i) as span:
            wl.run_job(spark, model, out)
        traced.append(span["end"] - span["start"])
        problems += [f"traced job {i}: {p}" for p in wl.check(out, digest)]
    group_walls = ([e["wall_s"] for e in read_manifest(out)]
                   if wl.kind == "extraction" else [0.0])
    resume = (resume_cycle(spark, model, wl, work, digest, tracer)
              if wl.kind == "extraction" else None)
    spark.stop()
    jobs = measure.read_event_logs(event_dir)

    spark, model, _ = setup(wl, "local[1]", spark_conf(work))
    walls_1 = [timed(lambda: wl.run_job(spark, model, out, wl.subset_path))
               for _ in range(LOCAL1_JOBS)]
    spark.stop()

    if resume:
        problems += resume["problems"]
    extract_s = tracer.total("extract")
    matcher_s = tracer.total("matcher")
    token_s = tracer.total("token_matcher")
    kernel_s = extract_s + matcher_s + token_s
    html_mb = corpus.payload_mb(wl.rows, "html") if wl.kind != "token" else 0
    text_mb = corpus.payload_mb(wl.rows, "text")
    per_doc = len(expected) / wl.docs

    per_job = [jobs[f"perfbench-job-{i}"] for i in range(TRACED_JOBS)]
    heavy = [measure.heaviest_stage_tasks(j) for j in per_job]
    all_tasks = sum(j["tasks"] for j in jobs.values())
    all_failed = sum(j["failed"] for j in jobs.values())

    def med(values):
        return measure.median(values)

    vocab = (len(model.gram_to_ptokens) if wl.kind == "token" else
             len(set(model.gram_to_phrases) | set(model.gram_to_variants)))
    metrics = {
        "spark.session.start_s": (session_s, "s"),
        "model.compile_s": (med(compile_walls), "s"),
        "model.broadcast_bytes": (len(pickle.dumps(
            model, protocol=pickle.HIGHEST_PROTOCOL)), "bytes"),
        "model.vocab_grams": (vocab, "count"),
        "extract.s_per_mb": (extract_s / html_mb if html_mb else 0.0, "s/MB"),
        "extract.out_bytes_per_in_byte": (
            text_mb / html_mb if html_mb else 0.0, "ratio"),
        "extract.share": (extract_s / kernel_s, "ratio"),
        "matcher.s_per_mb": (matcher_s / text_mb, "s/MB"),
        "matcher.scan_s_per_mb": (
            tracer.total("matcher.scan") / text_mb, "s/MB"),
        "matcher.matches_per_doc": (
            per_doc if wl.kind != "token" else 0.0, "count"),
        "matcher.share": (matcher_s / kernel_s, "ratio"),
        "token_matcher.s_per_mb": (token_s / text_mb, "s/MB"),
        "token_matcher.matches_per_doc": (
            per_doc if wl.kind == "token" else 0.0, "count"),
        "spark.job.tasks": (med([j["tasks"] for j in per_job]), "count"),
        "spark.job.task_s_p50": (
            med([measure.percentile(h, 50) for h in heavy]), "s"),
        "spark.job.task_s_p90": (
            med([measure.percentile(h, 90) for h in heavy]), "s"),
        "spark.job.task_s_max": (med([max(h) for h in heavy]), "s"),
        "spark.job.task_skew": (med([measure.task_skew(h) for h in heavy]),
                                "ratio"),
        "spark.job.gc_s": (med([j["gc_s"] for j in per_job]), "s"),
        "spark.job.udf_overhead_s": (measure.udf_overhead_s(
            med([j["run_s"] for j in per_job]), kernel_s), "s"),
        "spark.job.failed_task_ratio": (all_failed / all_tasks, "ratio"),
        # payload-normalised: the subset's share of the documents is not
        # its share of the work, its share of the bytes nearly is
        "spark.job.scaling_eff": (measure.scaling_eff(
            wl.payload_mb / med(untraced), wl.subset_mb / med(walls_1),
            NPROC), "ratio"),
        "spark.job.input_rows_per_doc": (
            med([j["records_read"] for j in per_job]) / wl.docs, "ratio"),
        "spark.job.shuffle_write_bytes": (
            med([j["shuffle_write_bytes"] for j in per_job]), "bytes"),
        "spark.job.group_wall_s_p50": (med(group_walls), "s"),
        "write.s": (med(parquet) - med(noop), "s"),
        "write.bytes_per_match": (write_bytes / max(1, match_rows), "bytes"),
        "resume.s": (resume["resume_s"] if resume else 0.0, "s"),
        "resume.groups_skipped": (
            resume["groups_skipped"] if resume else 0, "count"),
        "resume.docs_redone_ratio": (
            resume["docs_redone"] / wl.docs if resume else 0.0, "ratio"),
        "trace.overhead_s": (med(traced) - med(untraced), "s"),
    }
    return {"problems": problems, "attempted": all_tasks,
            "failed": all_failed, "metrics": metrics}


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------

def run_workload(name: str, seed: int, seconds: float,
                 traces: List[bool]) -> dict:
    """The timed and/or traced run of one workload, merged."""
    work = os.path.join(WORK, "data")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work)
    wl = Workload(name, seed, work)
    log(f"{name}: {wl.docs} docs, {wl.payload_mb:.2f} MB {wl.payload}")
    merged = {"problems": [], "attempted": 0, "failed": 0, "metrics": {}}
    for trace in traces:
        res = traced_run(wl, work) if trace else timed_run(wl, seconds, work)
        merged["problems"] += res["problems"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update(res["metrics"])
    shutil.rmtree(work, ignore_errors=True)
    return merged


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0,
                    help="length of the timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=None,
                    help="0: timed run only, 1: traced run only "
                         "(default: both)")
    args = ap.parse_args(argv)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    traces = [False, True] if args.trace is None else [bool(args.trace)]
    os.makedirs(WORK, exist_ok=True)
    try:
        results = {n: run_workload(n, args.seed, args.seconds, traces)
                   for n in names}
    finally:
        stop_jvm()

    problems, metrics = [], {}
    for name, res in results.items():
        prefix = "" if len(names) == 1 else f"{name}."
        for metric, (value, unit) in res["metrics"].items():
            print(f"{name} {metric} = {value:.6g} {unit}")
            metrics[prefix + metric] = {"value": value, "unit": unit}
        problems += [f"{name}: {p}" for p in res["problems"]]
    for p in problems:
        print(f"CORRECTNESS: {p}", file=sys.stderr)
    if problems:
        return 1
    print(json.dumps({
        "correct": True,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics}))
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the token model compiled here iterates sets of strings, so its
        # layout (and its speed in the workers) would move with the
        # process's hash seed; re-exec under the workers' fixed seed so the
        # same --seed gives the same model
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.exit(main())
