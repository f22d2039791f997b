"""Unit tests for the benchmark's own parts (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pytest

import run
import star
import syllabus
import tracing
import worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RX = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RX = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def validate_benchmark_spec(spec: dict) -> None:
    """Raise ValueError when BENCHMARK.json breaks its own naming rules."""
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        raise ValueError(f"unexpected keys {sorted(spec)}")
    if not 2 <= len(spec["workloads"]) <= 8:
        raise ValueError("2 to 8 workloads")
    if not 1 <= len(spec["end_to_end"]) <= 16 or not 1 <= len(spec["per_layer"]) <= 128:
        raise ValueError("metric counts out of range")
    seen: set[str] = set()
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            raise ValueError(f"bad workload {w}")
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        if not NAME_RX.match(m["name"]) or m["name"] in seen:
            raise ValueError(f"bad or repeated name {m['name']!r}")
        seen.add(m["name"])
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            raise ValueError(f"bad end-to-end metric {m}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            raise ValueError(f"bad per-layer metric {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT_RX.match(m["unit"]) or m["better"] not in ("higher", "lower"):
            raise ValueError(f"bad unit or direction {m}")
    if not 1 <= spec["run_seconds"] <= 60 or not isinstance(spec["run_seconds"], int):
        raise ValueError("run_seconds must be a whole number from 1 to 60")


def test_star_dataset_scales_the_fixtures(tmp_path):
    """The dataset is the sf0.01 fixtures replicated FACTOR times by
    key offset (geography dims copied), built once and then reused."""
    import pyarrow.parquet as pq

    sf_dir, manifest = star.ensure_dataset(str(tmp_path), ROOT)
    for name in star.TABLES:
        base = pq.read_metadata(os.path.join(star.FIXTURE_DIR, f"{name}.parquet")).num_rows
        factor = 1 if name in ("region", "nation") else star.FACTOR
        assert manifest["inputs"][name]["rows"] == base * factor, name
    keys = pq.read_table(os.path.join(sf_dir, "orders.parquet"), columns=["o_orderkey"])
    assert len(set(keys.column(0).to_pylist())) == keys.num_rows
    for name in star.LAYER_OF:
        assert os.path.exists(star.oracle_path(sf_dir, name)), name
    assert star.ensure_dataset(str(tmp_path), ROOT) == (sf_dir, manifest)


def _corpus_digest(raw: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(raw)):
        with open(os.path.join(raw, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_syllabus_corpus_deterministic_per_seed(tmp_path):
    m1 = syllabus.write_corpus(str(tmp_path / "a"), seed=3, n_docs=30)
    m2 = syllabus.write_corpus(str(tmp_path / "b"), seed=3, n_docs=30)
    m3 = syllabus.write_corpus(str(tmp_path / "c"), seed=4, n_docs=30)
    assert _corpus_digest(str(tmp_path / "a")) == _corpus_digest(str(tmp_path / "b"))
    assert _corpus_digest(str(tmp_path / "a")) != _corpus_digest(str(tmp_path / "c"))
    assert m1 == m2 and m1 != m3
    assert len(m1["quarantined"]) == 2 and len(m1["expected"]) == 28
    assert "config.json" in os.listdir(tmp_path / "a")


def test_expected_record_dates_and_name_split():
    c = {"period_code": "202520", "id": "1AAA0001", "name": "Física 1", "nrc": "1001",
         "faculty": ["Ana Pérez"], "credits": 4, "weeks": 16, "area": [],
         "units": [{"number": 1, "title": "T", "achievement": "a", "initial_week": 1,
                    "last_week": 16, "syllabus": ["x"], "activities": ["y"], "exams": [],
                    "bibliography": ["z"]}],
         "assessments": [{"kind": "PRÁCTICA PC", "abrev": "1", "weight": 15.0, "week": 4,
                          "is_recoverable": True}]}
    r = syllabus.expected_record(c)
    assert r["period"] == "2025-2"
    # week 4 of a period starting Monday 2025-08-25 runs Monday..Saturday
    a = r["assessments"][0]
    assert (a["initial_date"], a["last_date"]) == ("2025-09-15", "2025-09-20")
    assert a["name"] == "PRÁCTICA PC " and a["abrev"] == "1"
    u = r["units"][0]
    assert (u["initial_date"], u["last_date"]) == ("2025-08-25", "2025-12-13")
    assert syllabus.calendar_lines([r]) == ["•1AAA0001: PRÁCTICA PC  (15.0%)"]


def test_expected_records_match_the_parse_kernels(tmp_path):
    """The generator's records agree with the engine's pure-Python
    extract and parse kernels on every layout it writes (ruled,
    borderless, styled, split rows, page-spanning unit tables)."""
    from etl_upc_syllabus_spark.pipeline import minipdf
    from etl_upc_syllabus_spark.pipeline.extract import route_tables
    from etl_upc_syllabus_spark.pipeline.parse import parse_document

    raw = tmp_path / "raw"
    m = syllabus.write_corpus(str(raw), seed=9, n_docs=60)
    by_nrc = {r["nrc"]: r for r in m["expected"]}
    checked = 0
    for name in sorted(os.listdir(raw)):
        if not name.endswith(".pdf") or name in m["quarantined"]:
            continue
        with open(raw / name, "rb") as fh:
            pages = minipdf.extract_pages(fh.read())
        texts = [t for t, _ in pages]
        tables = route_tables(texts, [tb for _, tb in pages])
        got = parse_document(name, texts, tables["units"], tables["assessments"])
        want = by_nrc[got["nrc"]]
        for u in want["units"] + want["assessments"]:
            u.pop("initial_date"), u.pop("last_date")
        assert got.pop("error") is None
        assert got == want, name
        checked += 1
    assert checked == len(m["expected"])


class _Calendar:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


def _fake_cli_output(out, manifest):
    """Artifacts shaped like the CLI's, built from the expected records."""
    from etl_upc_syllabus_spark.pipeline import calendar

    os.makedirs(out)
    recs = manifest["expected"]
    with open(os.path.join(out, "all_courses.json"), "w", encoding="utf-8") as fh:
        json.dump(recs, fh, ensure_ascii=False, indent=4)
    for r in recs:
        with open(os.path.join(out, f"{r['name']}-{r['nrc']}.json"), "w", encoding="utf-8") as fh:
            json.dump(r, fh, ensure_ascii=False, indent=2)
    with open(os.path.join(out, "quarantine.json"), "w", encoding="utf-8") as fh:
        json.dump([{"id": None, "error": f"ValueError: bad {f}"}
                   for f in manifest["quarantined"]], fh)
    weeks: dict[int, list[str]] = {}
    for r in recs:
        for a in r["assessments"]:
            weeks.setdefault(a["week"], []).append(f"•{r['id']}: {a['name']} ({a['weight']}%)")
    rows = [{"week": w, "lines": sorted(v)} for w, v in sorted(weeks.items())]
    calendar.render_pdf(_Calendar(rows), os.path.join(out, "weekly_calendar.pdf"))
    for p in {r["period"] for r in recs}:
        os.makedirs(os.path.join(out, "courses_parquet", f"period={p}"))


def test_check_output_accepts_correct_and_flags_wrong(tmp_path):
    m = syllabus.write_corpus(str(tmp_path / "raw"), seed=2, n_docs=25)
    out = str(tmp_path / "out")
    _fake_cli_output(out, m)
    assert syllabus.check_output(out, m) == []

    with open(os.path.join(out, "all_courses.json"), encoding="utf-8") as fh:
        recs = json.load(fh)
    recs[0]["units"][0]["last_week"] += 1
    with open(os.path.join(out, "all_courses.json"), "w", encoding="utf-8") as fh:
        json.dump(recs[1:] + recs[:1], fh)
    problems = syllabus.check_output(out, m)
    assert problems == [f"{recs[0]['id']}: fields differ ['units']"]

    with open(os.path.join(out, "quarantine.json"), "w", encoding="utf-8") as fh:
        json.dump([], fh)
    assert any(p.startswith("quarantine") for p in syllabus.check_output(out, m))


def test_end_to_end_metrics():
    res = {"op_latency": {"a": [1.0, 3.0, 2.0], "b": [8.0]}, "failures": ["b: wrong result"],
           "cold_pass_s": 9.5, "warm_pass_s": [4.0, 2.0, 3.0], "attempted": 4,
           "heap_after_op_mb": {"a": 80.0, "b": 72.5}}
    m = run.end_to_end_metrics([7.0, 9.0, 8.0], res)
    assert {k: v["value"] for k, v in m.items()} == pytest.approx({
        "setup_s": 8.0, "cold_pass_s": 9.5, "warm_pass_s": 3.0,
        "op_geomean_s": 4.0, "ok_ratio": 0.75, "heap_live_peak_mb": 80.0})
    assert m["setup_s"]["unit"] == "s" and m["ok_ratio"]["unit"] == "ratio"


def test_self_time_by_layer():
    spans = [tracing.Span("pass", "client", 0.0, 10.0, None),
             tracing.Span("q", "plans", 1.0, 5.0, 0),
             tracing.Span("build", "plans", 1.0, 2.0, 1),
             tracing.Span("s", "streaming", 5.0, 9.0, 0)]
    assert tracing.self_time_by_layer(spans) == {"client": 2.0, "plans": 4.0, "streaming": 4.0}
    # a later pass's spans, parents indexing the whole list
    spans += [tracing.Span("pass", "client", 20.0, 23.0, None),
              tracing.Span("q", "plans", 20.5, 22.0, 4)]
    assert tracing.self_time_by_layer(spans, 4) == {"client": 1.5, "plans": 1.5}


def test_tracer_nesting_and_disabled():
    t = tracing.Tracer()
    with t.span("pass", "client"):
        with t.span("op", "plans"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("pass", None), ("op", 0)]
    assert all(s.end >= s.start for s in t.spans)
    off = tracing.Tracer(enabled=False)
    with off.span("pass", "client"):
        pass
    assert off.spans == []


def test_benchmark_json_names_and_layers():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    validate_benchmark_spec(spec)
    assert spec["per_layer"] == worker.per_layer_metrics()
    assert {w["name"] for w in spec["workloads"]} == set(worker.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_validate_rejects_bad_names():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    bad = json.loads(json.dumps(spec))
    bad["per_layer"][0]["name"] = "_starts_with_underscore"
    with pytest.raises(ValueError):
        validate_benchmark_spec(bad)
    dup = json.loads(json.dumps(spec))
    dup["per_layer"].append(dict(dup["per_layer"][0]))
    with pytest.raises(ValueError):
        validate_benchmark_spec(dup)
