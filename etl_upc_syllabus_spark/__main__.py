"""Drop-in CLI for reference users (X3, reference etl_courses.py:8-17).

The reference is invoked as ``python etl_courses.py raw data``; this
engine is invoked the same way with the module as the program:

    python -m etl_upc_syllabus_spark raw data [--config config.json]

and produces the same artifacts in the output directory (reference
README.md "Archivos generados"): one pretty-printed JSON per course
('{name}-{nrc}.json'), the consolidated 'all_courses.json' array, and
'weekly_calendar.pdf' -- plus the scale-path parquet corpus
(period-partitioned, serving the point/period reads S7/S8) and a
quarantine report the reference only logged.

Period-date enrichment (J1) reads the reference's own config.json
format ({"2025-2": {"start_date": ..., "end_date": ...}}); the file is
looked up in the input directory, then the CWD, or passed explicitly.
Unlike the reference (which shipped the enrichment as dead code with
hardcoded constants, etl_infrastructure.py:193-216), it actually runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m etl_upc_syllabus_spark",
        description="ETL pipeline for UPC syllabi (PySpark engine)",
    )
    p.add_argument("input_dir", help="Directory containing PDF files")
    p.add_argument("output_dir", help="Output directory for JSON files")
    p.add_argument("--config", default=None, help="period config.json path")
    p.add_argument("--verbose", action="store_true", help="Enable verbose logging")
    p.add_argument(
        "--nfkc",
        action="store_true",
        help="NFKC-normalize document text inside the parse stage "
        "(closes the hostile-Unicode silent classes the r11 probe "
        "measured: NBSP/NFD section markers, fullwidth colons; "
        "default off = reference-parity parsing)",
    )
    args = p.parse_args(argv)

    from .pipeline import assemble, calendar, extract, sinks
    from .session import get_spark

    spark = get_spark("etl-upc-syllabus")
    if not args.verbose:
        spark.sparkContext.setLogLevel("ERROR")

    raw = extract.extract_documents(extract.read_syllabus_pdfs(spark, args.input_dir))
    # good and bad both read this cache, so each PDF is scanned,
    # extracted and parsed once per run
    parsed = assemble.parse_documents(raw, nfkc=args.nfkc).persist()
    good, bad = assemble.split_quarantine(parsed)

    try:
        # quarantine REPORT as an artifact, not just a log line: the
        # reference logs-and-drops (etl_pipeline.py:28-30); operators
        # of a real corpus need the reject list (id + typed error) to
        # triage. Rejects are a tiny fraction of the corpus (errors,
        # not data), so one driver-side collect is the honest cost.
        # Collected first, it builds the parsed cache in a job of its
        # own: were the first sink to build it, the periods broadcast
        # job would race the scan for cores, in an order that varies
        # from run to run.
        rejects = [{"id": r["id"], "error": r["error"]} for r in bad.collect()]

        config_path = args.config
        if config_path is None:
            for cand in (os.path.join(args.input_dir, "config.json"), "config.json"):
                if os.path.exists(cand):
                    config_path = cand
                    break
        if config_path:
            with open(config_path, encoding="utf-8") as fh:
                good = assemble.enrich_dates(good, assemble.load_periods(spark, json.load(fh)))

        # the sinks and the calendar read the enriched corpus from this
        # cache, so the periods broadcast and the enrichment run once
        good = good.persist()
        os.makedirs(args.output_dir, exist_ok=True)
        written, _ = sinks.write_json_artifacts(good, args.output_dir)
        # gate off: periods here come from parse_filename ('YYYY-T',
        # inference-proof and sentinel-free by construction), so the
        # validation pass would only re-scan the persisted frame
        sinks.write_courses_parquet(good, args.output_dir, on_unsafe="off")
        calendar.render_pdf(
            assemble.weekly_calendar(good),
            os.path.join(args.output_dir, "weekly_calendar.pdf"),
        )
        with open(
            os.path.join(args.output_dir, "quarantine.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(rejects, fh, ensure_ascii=False, indent=1)
        n_bad = len(rejects)
    finally:
        good.unpersist()
        parsed.unpersist()

    print(f"Processed {len(written)} courses successfully")
    if n_bad:
        print(f"Quarantined {n_bad} unparseable documents (see quarantine.json)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
