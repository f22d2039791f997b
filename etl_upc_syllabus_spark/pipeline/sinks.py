"""Sinks + point reads for the course corpus (SURVEY.md 2.1 S4-S8).

The scale-correct persistent form is Parquet partitioned by period
(predicate pushdown + partition pruning for the period/point reads);
the JSON writers exist for reference-contract parity:

- S4 per-record JSON files named '{name}-{nrc}.json' -- still a
  many-tiny-files anti-pattern at scale, but written partition-locally
  on the executors (only the path manifest reaches the driver);
- S5 one consolidated JSON array ('all_courses.json', the downstream
  contract of reference prompt_format.txt:9) -- rendered executor-side
  as per-partition fragments, stream-merged by the driver.

``write_json_artifacts`` writes S4 and S5 from one pass over the frame.

Reference bugs fixed rather than reproduced (SURVEY 7 'faithful-vs-
fixed'): find_by_id globbed '{id}_*.json' which can never match S4's
'{name}-{nrc}.json' filenames (etl_infrastructure.py:160-166), and
find_by_period was a stub returning [] (etl_infrastructure.py:168-170).
Both are real queries here.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

COURSES_DIRNAME = "courses_parquet"
_FRAGMENTS_DIRNAME = "_all_courses_fragments"


def write_courses_parquet(
    courses: DataFrame, base_path: str, *, on_unsafe: str = "error",
    verify: bool = False,
) -> str:
    """The scale path: parquet partitioned by period.

    The period key is validated before it lays the table out (r12
    partition-values probe: the empty string and the literal
    ``__HIVE_DEFAULT_PARTITION__`` silently 3-way-merge with real NULLs
    in the null-sentinel directory, and DuckDB reads that directory
    differently from Spark). ``on_unsafe``:

    - ``"error"`` (default): raise ValueError naming the unsafe classes
      and their row counts -- a library user cannot write the silent
      merge by accident;
    - ``"quarantine"``: write only the safe rows; unsafe rows are
      APPENDED as un-partitioned parquet under
      ``_quarantined_partition_keys/`` with their
      ``quarantine_reason``, so nothing is silently dropped. The
      journal is append-only across writes (a later clean batch must
      not wipe earlier findings), which means REPLAYING the same dirty
      batch appends duplicate journal rows even though the main table
      stays idempotent -- dedupe on read if you size cleanup work from
      the journal;
    - ``"off"``: skip the gate (the key is already trusted, e.g. the
      engine's own parse_filename 'YYYY-T' periods -- costs nothing).

    The gate costs one extra validation pass over the input in "error"
    mode (a count of the quarantine side); at lake scale prefer "off"
    for engine-generated keys or "quarantine" (whose second write scans
    only what the first one excluded under Catalyst filter pushdown).

    ``verify=True`` (VERDICT r13 item 6) runs the write-artifact audit
    (:func:`~..sources.formats.audit_write_artifacts`) over the table
    just written and raises on any finding. A full overwrite is one
    committed job, so the whole table is in scope. NOTE the semantics
    difference from the snapshot layer: this write is IN PLACE, so
    verify detects damage after the fact -- it cannot un-promote it.
    When the table must never expose a torn state, publish through
    ``sources.layout.publish_snapshot(..., verify=True)`` instead,
    where a failed audit means the version simply never goes live.
    """
    out = os.path.join(base_path, COURSES_DIRNAME)
    courses = _gate_period_keys(courses, base_path, on_unsafe)
    courses.write.mode("overwrite").partitionBy("period").parquet(out)
    if verify:
        from ..sources.formats import audit_write_artifacts

        _raise_on_artifacts(
            audit_write_artifacts(courses.sparkSession, out),
            "write_courses_parquet",
        )
    return out


def write_courses_period_incremental(
    courses: DataFrame, base_path: str, *, on_unsafe: str = "error",
    verify: bool = False,
) -> str:
    """Incremental load: overwrite ONLY the period partitions present
    in ``courses``, leaving every other period's data in place.

    This exists because the obvious incremental recipe -- mode
    "overwrite" + partitionBy through :func:`write_courses_parquet` --
    is SILENT FULL-TABLE DATA LOSS under Spark's default
    ``partitionOverwriteMode=STATIC`` (r13 overwrite probe: writing one
    period's refresh deleted every other period with no error). The
    dynamic mode is requested as a per-WRITE option here, so no session
    conf is mutated and concurrent writes keep their own semantics.

    Same period-key gate as the full writer (``on_unsafe``). At 100 TB
    this is the only sane refresh shape: the write touches exactly the
    partitions the batch carries, and readers of other periods are
    never raced (their files are not deleted) -- whereas a full
    overwrite deletes EVERY file, which a concurrent resilient read
    silently resolves to 0 rows (see ``read_resilient``'s race caveat).

    ``verify=True`` (VERDICT r13 item 6) audits exactly the partitions
    this batch refreshed -- each touched ``period=...`` dir is one
    committed job's output, so the per-dir writer-UUID census is the
    right scope (a whole-table audit on an incrementally-built table
    would flag every older refresh's UUID as an orphan, the documented
    append-table caveat). The touched set is derived from the write
    itself -- partition dirs whose mtime changed across it -- never
    from re-executing the input plan (ADVICE r14: a nondeterministic
    or concurrently-changed source could yield a different period set
    than the one actually written, silently shrinking the audit
    scope). Costs two shallow listings of the table root plus one
    metadata-only audit over the touched partitions; raises with the
    findings. Same in-place semantics note as write_courses_parquet:
    detection, not un-promotion -- for atomic versions use
    ``sources.layout.publish_snapshot_incremental(..., verify=True)``.
    """
    out = os.path.join(base_path, COURSES_DIRNAME)
    courses = _gate_period_keys(courses, base_path, on_unsafe)
    # Audit scope is captured from the WRITE itself, not from the plan
    # (ADVICE r14: re-executing the lazy plan's select('period') AFTER
    # the write can disagree with what was actually written -- a
    # nondeterministic source or a concurrently-changed input then
    # silently excludes rewritten partition dirs from the audit). The
    # dirs whose fingerprint changes across the write -- including
    # brand-new ones, and the Hive null-sentinel dir for NULL/''
    # periods (the r12 3-way-merge finding) -- ARE the touched set, by
    # construction. The fingerprint is the dir's mtime PLUS its file
    # listing (names, per-file mtime_ns, sizes): dir mtime alone is
    # ambiguous on coarse-timestamp filesystems (1 s ext3, 2 s
    # FAT/SMB), where two back-to-back refreshes of one small
    # partition can land in a single tick and a genuinely rewritten
    # dir would silently drop out of the audit -- the same shrinking-
    # scope failure class this derivation exists to prevent (ADVICE
    # r15). The rewrite always changes file names (each job's part
    # files carry a fresh writer UUID), so the listing disambiguates
    # even when no timestamp moves; over-auditing an untouched dir is
    # cheap, under-auditing defeats verify.
    before: dict[str, tuple] = {}
    if verify and os.path.isdir(out):
        for d in os.listdir(out):
            if d.startswith("period="):
                before[d] = _partition_fingerprint(os.path.join(out, d))
    (
        courses.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("period")
        .parquet(out)
    )
    if verify:
        from ..sources.formats import audit_write_artifact_dirs

        dirs = []
        for d in sorted(os.listdir(out)):
            if not d.startswith("period="):
                continue
            if before.get(d) != _partition_fingerprint(os.path.join(out, d)):
                dirs.append(os.path.join(out, d))
        if dirs:
            # ONE distributed job over all touched dirs (review r14: a
            # per-dir loop paid N sequential jobs of scheduling
            # overhead); pooling the UUID census across them is right
            # because this batch IS one write job
            _raise_on_artifacts(
                audit_write_artifact_dirs(courses.sparkSession, dirs),
                "write_courses_period_incremental",
            )
    return out


def _partition_fingerprint(path: str) -> tuple:
    """Write-detection fingerprint of one partition dir: (dir mtime_ns,
    sorted (name, mtime_ns, size) of its entries). A file vanishing
    between listdir and stat (concurrent writer mid-swap) records a
    sentinel rather than raising -- the fingerprint still differs from
    any stable 'before', which errs toward auditing, never away."""
    try:
        st_ns = os.stat(path).st_mtime_ns
        names = os.listdir(path)
    except FileNotFoundError:
        return ()
    entries = []
    for f in names:
        try:
            fst = os.stat(os.path.join(path, f))
            entries.append((f, fst.st_mtime_ns, fst.st_size))
        except FileNotFoundError:
            entries.append((f, -1, -1))
    return (st_ns, tuple(sorted(entries)))


def _raise_on_artifacts(report: DataFrame, who: str) -> None:
    """Collect a write-artifact audit report; raise with the findings."""
    findings = report.collect()
    if findings:
        detail = ", ".join(f"{r['issue']}: {r['file']}" for r in findings[:5])
        raise RuntimeError(
            f"verify=True: {who} write-artifact audit found "
            f"{len(findings)} issue(s) ({detail}"
            f"{'...' if len(findings) > 5 else ''}); the write is IN "
            "PLACE so the damage is live -- repair before promoting "
            "readers, or switch to the snapshot publish layer"
        )


def _gate_period_keys(
    courses: DataFrame, base_path: str, on_unsafe: str
) -> DataFrame:
    """The shared pre-write period-key gate (see write_courses_parquet
    for the three postures)."""
    if on_unsafe not in ("error", "quarantine", "off"):
        raise ValueError(f"on_unsafe must be error|quarantine|off, got {on_unsafe!r}")
    if on_unsafe == "off":
        return courses
    from ..operators.curation import quarantine_partition_keys

    clean, quarantined = quarantine_partition_keys(courses, "period")
    if on_unsafe == "error":
        offenders = [
            f"{r['quarantine_reason']} x{r['n']}"
            for r in quarantined.groupBy("quarantine_reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        if offenders:
            raise ValueError(
                "unsafe partition values in 'period' would silently "
                "merge into the null-sentinel directory: "
                + ", ".join(sorted(offenders))
                + " (fix the values, or pass on_unsafe='quarantine')"
            )
        return courses
    # the quarantine side is an APPEND-ONLY journal (review r13): an
    # overwrite to the fixed path would let the NEXT gated write -- a
    # fully-clean batch included -- wipe previously quarantined rows,
    # exactly the silent-loss class the gate exists to prevent.
    # Re-running the same batch appends visible duplicates; visible
    # beats vanished.
    quarantined.write.mode("append").parquet(
        os.path.join(base_path, "_quarantined_partition_keys")
    )
    return clean


def write_json_artifacts(courses: DataFrame, base_path: str) -> tuple[list[str], str]:
    """S4 and S5 from one pass over ``courses``: every per-record file
    and ``all_courses.json``, with each serialized row parsed once.

    Returns (per-record paths, all_courses.json path). The bytes are
    those :func:`write_per_record_json` and
    :func:`write_all_courses_json` write, which run the same kernel
    for one artifact each.
    """
    return _write_json(courses, base_path, per_record=True, all_courses=True)


def write_per_record_json(courses: DataFrame, base_path: str) -> list[str]:
    """S4 compat: one pretty-printed JSON file per course, named
    '{name}-{nrc}.json' (etl_infrastructure.py:153-158). A path
    separator in that stem becomes '_', so a course called
    'Taller I/II' is written as 'Taller I_II-{nrc}.json' in
    ``base_path`` instead of aborting the job.

    Files are written *executor-side* (partition-local loop over the
    serialized rows); only the manifest of written paths travels to the
    driver. On a multi-executor cluster this requires ``base_path`` to
    be a shared filesystem mount -- the scale-correct persistent form
    remains :func:`write_courses_parquet`.
    """
    return _write_json(courses, base_path, per_record=True, all_courses=False)[0]


def write_all_courses_json(courses: DataFrame, base_path: str) -> str:
    """S5 compat: single consolidated JSON array (the reference's
    all_courses.json contract, etl_pipeline.py:52-61).

    Each partition renders its records as an indented JSON fragment
    file executor-side; the driver then streams the fragments together
    in partition order, so the full corpus is never materialized as
    driver-side Python objects. Output bytes are identical to
    ``json.dump(records, fh, ensure_ascii=False, indent=4)``.
    """
    return _write_json(courses, base_path, per_record=False, all_courses=True)[1]


def _record_filename(rec: dict) -> str:
    stem = f"{rec.get('name') or 'unknown'}-{rec.get('nrc') or 'no-nrc'}"
    for sep in (os.sep, os.altsep):
        if sep:
            stem = stem.replace(sep, "_")
    return stem + ".json"


def _write_json(
    courses: DataFrame, base_path: str, *, per_record: bool, all_courses: bool
) -> tuple[list[str], str | None]:
    """The one executor-side JSON kernel behind S4 and S5: one
    ``toJSON()`` pass; per row, one ``json.loads``, then the per-record
    file (indent=2) and/or the partition's all_courses fragment
    (indent=4). The fragments are concatenated in partition order."""
    os.makedirs(base_path, exist_ok=True)
    frag_dir = os.path.join(base_path, _FRAGMENTS_DIRNAME)
    if all_courses:
        shutil.rmtree(frag_dir, ignore_errors=True)
        os.makedirs(frag_dir)

    def _write_partition(idx, rows):
        paths, chunks = [], []
        for row in rows:
            rec = json.loads(row)
            if per_record:
                path = os.path.join(base_path, _record_filename(rec))
                with open(path, "w", encoding="utf-8") as fh:
                    json.dump(rec, fh, ensure_ascii=False, indent=2)
                paths.append(path)
            if all_courses:
                # one level of json.dump(list, indent=4) indentation: 4
                # spaces after every raw "\n", which json emits only
                # between tokens (str.splitlines() would also split at
                # a U+2028 or U+0085 inside a string value)
                chunks.append("    " + json.dumps(rec, ensure_ascii=False, indent=4)
                              .replace("\n", "\n    "))
        frag = None
        if chunks:
            frag = os.path.join(frag_dir, f"part-{idx:05d}.jsonfrag")
            with open(frag, "w", encoding="utf-8") as fh:
                fh.write(",\n".join(chunks))
        yield paths, frag

    # collect() returns partitions in index order: the fragments' order
    parts = courses.toJSON().mapPartitionsWithIndex(_write_partition).collect()
    paths = [p for part_paths, _ in parts for p in part_paths]
    if not all_courses:
        return paths, None
    fragments = [frag for _, frag in parts if frag]
    path = os.path.join(base_path, "all_courses.json")
    with open(path, "w", encoding="utf-8") as fh:
        if not fragments:
            fh.write("[]")
        else:
            fh.write("[\n")
            for i, frag in enumerate(fragments):
                if i:
                    fh.write(",\n")
                with open(frag, encoding="utf-8") as src:
                    shutil.copyfileobj(src, fh)
            fh.write("\n]")
    shutil.rmtree(frag_dir, ignore_errors=True)
    return paths, path


def read_courses(
    spark: SparkSession, base_path: str, *, merge_schemas: bool = False
) -> DataFrame:
    """Read the course corpus with an EXPLICIT schema -- data-file
    columns at their file types, the ``period`` partition column pinned
    to string (VERDICT r12 item 3).

    ``merge_schemas``: the default discovery resolves ONE footer, so a
    corpus whose schema EVOLVED across writes (an incremental batch
    added ``credits``) silently drops the new column from the read --
    measured r13, the same listing-order class ``scan_schema_drift``
    censuses. Pass ``merge_schemas=True`` on evolved corpora: discovery
    then unions every footer (one metadata read per file -- pay it
    when evolution is real, not by default) and new columns surface as
    NULL on pre-evolution rows. Run ``scan_schema_drift`` first when
    unsure whether a corpus has drifted.

    A schema-less ``spark.read.parquet`` runs partition-column TYPE
    INFERENCE over the directory names: the r12 probe measured 5/7
    numeric/date-looking string values silently re-typed ('01' -> int 1,
    leading zero gone; '2024-01-01' -> date), every one also diverging
    from DuckDB's read of the same layout. The engine's own 'YYYY-T'
    periods are inference-proof by construction, but this is a library
    surface -- so the schema is discovered from the file footers first,
    then ``period`` is re-declared string and the real read is made
    against the explicit schema: Spark then parses the RAW directory
    value as a string instead of inferring ('01' stays '01'). Costs one
    extra footer/listing pass; no session conf is touched (flipping
    partitionColumnTypeInference would race concurrent readers).
    """
    path = os.path.join(base_path, COURSES_DIRNAME)
    reader = spark.read
    if merge_schemas:
        reader = reader.option("mergeSchema", "true")
    from pyspark.errors import AnalysisException

    try:
        discovered = reader.parquet(path).schema
    except AnalysisException as e:
        # a ZERO-ROW commit writes only _SUCCESS -- no footer to
        # discover from. The canonical corpus schema is the contract,
        # so an empty corpus reads as an empty canonical DataFrame
        # instead of dying on schema discovery (empty slices are
        # normal at scale; the degenerate-sweep ethos). Anything else
        # (missing path, corrupt footer) stays loud. Dispatch on the
        # ERROR CLASS, not the message text (review r13 pass 3: a
        # reworded/localized message must not silently change the
        # posture).
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        from .schema import PARSED_COURSE_SCHEMA

        return spark.read.schema(PARSED_COURSE_SCHEMA).parquet(path)
    explicit = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if f.name == "period" else f.dataType,
                f.nullable,
            )
            for f in discovered
        ]
    )
    return spark.read.schema(explicit).parquet(path)


def find_by_id(spark: SparkSession, base_path: str, course_id: str) -> DataFrame:
    """S7, fixed: point read with pushdown instead of a filename glob
    that never matched (see module docstring)."""
    return read_courses(spark, base_path).filter(F.col("id") == course_id).limit(1)


def find_by_period(spark: SparkSession, base_path: str, period: str) -> DataFrame:
    """S8, implemented: partition-pruned period scan (the parquet layout
    makes this a single-directory read)."""
    return read_courses(spark, base_path).filter(F.col("period") == period)
