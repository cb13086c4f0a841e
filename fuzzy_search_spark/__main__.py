"""spark-submit entry point for the extraction pipeline (north rule:
``spark-submit --py-files fuzzy_search_spark.zip -m ...`` on a cluster).

    spark-submit --py-files fuzzy_search_spark.zip \
        fuzzy_search_spark/__main__.py \
        --input s3://pages/ --output s3://matches/ \
        --phrases phrases.json [--config config.json] \
        [--num-groups 256] [--no-resume] \
        [--token-mode] [--chunk-chars 2000000]

The phrases file is a JSON list of strings or phrase dicts (the
reference's PhraseModel input shape); config is the flat reference config
dict.  ``--token-mode`` compiles a token model instead of a phrase model;
either way the one resumable job (spark/job.py) runs it: it splits the
sorted list of input files into ``--num-groups`` groups, each read and
committed on its own, and a re-run skips committed groups unless the
fingerprint (model and its kind, config, columns, group count, file
listing) changed (manifest).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="fuzzy_search_spark",
        description="Distributed fuzzy phrase extraction over a web-pages "
                    "table (url, warc_ts, html, text, lang).")
    p.add_argument("--input", required=True,
                   help="input table path (parquet directory)")
    p.add_argument("--output", required=True,
                   help="output directory (matches/, _metrics/, _manifest)")
    p.add_argument("--phrases", required=True,
                   help="JSON file: list of phrase strings or dicts")
    p.add_argument("--config", default=None,
                   help="JSON file: reference-style config dict")
    p.add_argument("--num-groups", type=int, default=64,
                   help="resumable commit units: group g of N reads "
                        "input files g, g+N, g+2N, ... of the sorted "
                        "listing; a group with fewer files than cores "
                        "is spread over them by url hash")
    p.add_argument("--no-resume", action="store_true",
                   help="reprocess committed groups")
    p.add_argument("--url-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument("--html-col", default="html",
                   help="extract rows whose text is NULL from this column; "
                        "pass '' to disable HTML extraction")
    p.add_argument("--chunk-chars", type=int, default=None,
                   help="exactness-preserving chunked matching bound for "
                        "giant documents (phrase pipeline only)")
    p.add_argument("--token-mode", action="store_true",
                   help="use the token-level pipeline (the fast path for "
                        "large phrase models; slightly less exhaustive), "
                        "in the same resumable job")
    p.add_argument("--extract-mode", default="strip",
                   choices=["strip", "main", "auto"],
                   help="payload->text extraction for NULL-text rows: "
                        "'strip' = full-tag strip (byte-identity contract), "
                        "'main' = DOM-heuristic main-content only, "
                        "'auto' = dispatch by payload magic (PDF/HTML/plain)")
    p.add_argument("--format", dest="table_format", default="parquet",
                   choices=["parquet", "iceberg"],
                   help="input/output table format; 'iceberg' needs the "
                        "Iceberg Spark runtime + catalog on the cluster")
    return p


def main(argv=None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    with open(args.phrases) as fh:
        phrases = json.load(fh)
    config = {}
    if args.config:
        with open(args.config) as fh:
            config = json.load(fh)

    if spark is None:
        from fuzzy_search_spark.spark.session import get_spark

        spark = get_spark(app_name="fuzzy-search-extract")

    from fuzzy_search_spark import extract as _ex

    extractor = {"strip": None,  # job default (extract_html)
                 "main": _ex.extract_main_content,
                 "auto": _ex.extract_payload}[args.extract_mode]

    if args.token_mode:
        from fuzzy_search_spark.token_matcher import compile_token_model

        model = compile_token_model(phrases, config)
    else:
        from fuzzy_search_spark.model import compile_model

        model = compile_model(phrases, config)
    from fuzzy_search_spark.spark.job import run_extraction_job

    summary = run_extraction_job(
        spark, args.input, args.output, model,
        num_groups=args.num_groups,
        resume=not args.no_resume,
        url_col=args.url_col, text_col=args.text_col,
        html_col=args.html_col or None,
        chunk_chars=args.chunk_chars,
        table_format=args.table_format,
        extractor=extractor)
    summary["mode"] = "token" if args.token_mode else "phrase"
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
