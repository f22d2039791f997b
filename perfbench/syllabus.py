"""Seeded syllabus-PDF corpus for the ``syllabus_etl`` workload, the
records the CLI must produce from it, and the output check.

The expected records are built from what the generator wrote (field
values and the reference's JSON contract), never by running the
engine's parser, so a parse regression shows as a wrong result.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

from etl_upc_syllabus_spark.pipeline import minipdf

#: period code in the filename -> (period label, first day of week 1)
PERIODS = {"202510": ("2025-1", dt.date(2025, 3, 17)),
           "202520": ("2025-2", dt.date(2025, 8, 25)),
           "202610": ("2026-1", dt.date(2026, 3, 16))}

_SUBJECTS = ("Matemática Básica", "Física", "Química General", "Cálculo", "Estadística",
             "Programación", "Economía", "Álgebra Lineal", "Redes", "Bases de Datos",
             "Ética Profesional", "Diseño Gráfico", "Comunicación", "Mecánica")
_PEOPLE = ("Ana Pérez", "Luis Díaz", "María Núñez", "José Ramírez", "Lucía Gómez",
           "Jorge Ibáñez", "Sofía Castro", "Raúl Muñoz")
_AREAS = ("Ciencias", "Ingeniería", "Humanidades", "Negocios", "Arte")
_TOPICS = ("Conjuntos", "Funciones", "Límites", "Derivadas", "Integrales", "Matrices",
           "Vectores", "Probabilidad", "Grafos", "Algoritmos", "Energía", "Ondas")
_KINDS = ("PRÁCTICA PC", "EXAMEN PARCIAL", "EXAMEN FINAL", "TAREA ACADÉMICA", "LABORATORIO")
_HEADER = ["SEMANA", "TEMARIO", "ACTIVIDADES", "EVALUACIONES", "BIBLIOGRAFÍA"]
ASSESS_HEADER = ["TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"]

#: share of documents that are corrupt bytes, and again of documents
#: whose filename the syllabus pattern rejects (at least one of each)
BAD_SHARE = 0.01


def _bullets(rng: random.Random, k: int, prefix: str) -> list[str]:
    return [f"{prefix} {rng.choice(_TOPICS)} {rng.randint(1, 99)}" for _ in range(k)]


def _course(rng: random.Random, i: int) -> dict:
    """One syllabus as generated values: the ground truth."""
    period_code = rng.choice(sorted(PERIODS))
    weeks = rng.choice((14, 16, 18))
    n_units = rng.randint(1, 4)
    cuts = sorted(rng.sample(range(2, weeks), n_units - 1))
    bounds = list(zip([1, *cuts], [c - 1 for c in cuts] + [weeks]))
    layout = rng.choice(("table", "bare_table", "styled_table"))
    units = []
    for n, (w0, w1) in enumerate(bounds, start=1):
        units.append({
            "number": n,
            "title": f"{rng.choice(_TOPICS)} y aplicaciones {n}",
            "achievement": f"el estudiante domina {rng.choice(_TOPICS).lower()} "
                           f"al nivel {rng.randint(1, 9)}",
            "initial_week": w0, "last_week": w1,
            "syllabus": _bullets(rng, rng.randint(1, 4), "Tema"),
            "activities": _bullets(rng, rng.randint(1, 3), "Actividad"),
            # borderless columns need two non-empty cells to be found
            "exams": _bullets(rng, rng.randint(0 if layout == "table" else 1, 2), "Eval"),
            "bibliography": _bullets(rng, rng.randint(1, 2), "Libro"),
            "split_logro": rng.random() < 0.3,
            "split_week": rng.random() < 0.3,
        })
    assessments = []
    for k in range(rng.randint(1, 5)):
        assessments.append({
            "kind": rng.choice(_KINDS), "abrev": str(k + 1),
            "weight": float(rng.choice((5, 10, 12.5, 15, 20, 25, 30))),
            "week": rng.randint(1, weeks), "is_recoverable": rng.random() < 0.4,
            "obs": rng.choice(("ninguna", "grupal", "individual")),
        })
    return {
        "file": f"UG-{period_code}_1A{chr(65 + i % 26)}{chr(65 + i // 26 % 26)}"
                f"{i:04d}-{1000 + i}.pdf",
        "id": f"1A{chr(65 + i % 26)}{chr(65 + i // 26 % 26)}{i:04d}",
        "nrc": str(1000 + i),
        "period_code": period_code,
        "name": f"{rng.choice(_SUBJECTS)} {rng.randint(1, 9)}",
        "faculty": rng.sample(_PEOPLE, rng.randint(1, 3)),
        "credits": rng.randint(1, 6), "weeks": weeks,
        "area": rng.sample(_AREAS, rng.randint(1, 2)) if rng.random() < 0.5 else [],
        "units": units, "assessments": assessments, "layout": layout,
        "methodology_page": rng.random() < 0.3,
    }


def _pages(c: dict) -> list:
    general = ["Sílabo de Curso", "I. INFORMACIÓN GENERAL",
               f"Nombre del Curso : {c['name']}", f"Código del curso : {c['id']}",
               f"Cuerpo académico : {', '.join(c['faculty'])}",
               f"Créditos : {c['credits']}", f"Semanas : {c['weeks']}"]
    if c["area"]:
        general += [f": {', '.join(c['area'])}", "Área o programa"]
    general += ["II. MISIÓN Y VISIÓN DE LA UPC", "Formar líderes íntegros e innovadores."]
    unit_rows: list[list[str]] = []
    for u in c["units"]:
        unit_rows.append([f"Unidad n. {u['number']}: {u['title']}", "", "", "", ""])
        unit_rows.append([f"COMPETENCIA (S): competencia {u['number']}", "", "", "", ""])
        if u["split_logro"]:
            head, _, tail = u["achievement"].rpartition(" al ")
            unit_rows.append([f"LOGRO DE LA UNIDAD: {head}", "", "", "", ""])
            unit_rows.append([f"al {tail}", "", "", "", ""])
        else:
            unit_rows.append([f"LOGRO DE LA UNIDAD: {u['achievement']}", "", "", "", ""])
        unit_rows.append(list(_HEADER))
        syl = u["syllabus"]
        first, rest = (syl[:-1], syl[-1:]) if u["split_week"] and len(syl) > 1 else (syl, [])
        unit_rows.append([f"Semana {u['initial_week']} - {u['last_week']}",
                          *(" ".join(f"• {x}" for x in col)
                            for col in (first, u["activities"], u["exams"], u["bibliography"]))])
        if rest:
            unit_rows.append(["", f"• {rest[0]}", "", "", ""])
    assess_rows = [list(ASSESS_HEADER)] + [
        [f"{a['kind']} - {a['abrev']}", "g1", f"{a['weight']:g}%", str(a["week"]),
         a["obs"], "Sí" if a["is_recoverable"] else "No"] for a in c["assessments"]]
    tag = c["layout"]
    pages: list = ["\n".join(general)]
    # a units table longer than one page continues on the next one
    # without a section header: the section carries over the break
    split_at = next((i for i, r in enumerate(unit_rows)
                     if i >= 14 and r[0].startswith("Unidad n.")), None)
    if split_at is None:
        pages.append(["VI. UNIDADES DE APRENDIZAJE", (tag, unit_rows)])
    else:
        pages.append(["VI. UNIDADES DE APRENDIZAJE", (tag, unit_rows[:split_at])])
        pages.append([(tag, unit_rows[split_at:])])
    if c["methodology_page"]:
        pages.append("VII. METODOLOGÍA\nClases teóricas y prácticas semanales.")
    pages.append(["VIII. EVALUACIÓN", (tag, assess_rows)])
    return pages


def expected_record(c: dict) -> dict:
    """The JSON record the CLI writes for course ``c`` (reference sink
    contract: period-dated units/assessments, name/abrev split once at
    the first '-', nrc as string)."""
    label, start = PERIODS[c["period_code"]]

    def day(week: int, offset: int) -> str:
        return (start + dt.timedelta(days=(week - 1) * 7 + offset)).isoformat()

    return {
        "period": label, "id": c["id"], "name": c["name"], "faculty": c["faculty"],
        "credits": c["credits"], "weeks": c["weeks"], "area": c["area"], "nrc": c["nrc"],
        "units": [{
            "number": u["number"], "title": u["title"], "achievement": u["achievement"],
            "initial_week": u["initial_week"], "last_week": u["last_week"],
            "initial_date": day(u["initial_week"], 0), "last_date": day(u["last_week"], 5),
            "syllabus": u["syllabus"], "activities": u["activities"],
            "exams": u["exams"], "bibliography": u["bibliography"]} for u in c["units"]],
        "assessments": [{
            "name": f"{a['kind']} ", "abrev": a["abrev"], "weight": a["weight"],
            "week": a["week"], "is_recoverable": a["is_recoverable"],
            "initial_date": day(a["week"], 0), "last_date": day(a["week"], 5)}
            for a in c["assessments"]],
    }


def write_corpus(raw_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``n_docs`` syllabus files plus config.json into ``raw_dir``.

    ``BAD_SHARE`` of them are corrupt bytes and as many carry a filename
    the syllabus pattern rejects; both must land in quarantine. Returns the
    manifest the check needs."""
    shutil.rmtree(raw_dir, ignore_errors=True)
    os.makedirs(raw_dir)
    rng = random.Random(seed)
    n_bad = max(1, round(n_docs * BAD_SHARE))
    bad = rng.sample(range(n_docs), 2 * n_bad)
    corrupt, bad_name = set(bad[:n_bad]), set(bad[n_bad:])
    expected, quarantined = [], []
    for i in range(n_docs):
        c = _course(rng, i)
        if i in corrupt:
            with open(os.path.join(raw_dir, c["file"]), "wb") as fh:
                fh.write(b"%PDF-1.4 truncated " + rng.randbytes(64))
            quarantined.append(c["file"])
            continue
        if i in bad_name:
            c["file"] = c["file"].replace(f"-{c['nrc']}.pdf", f"-{c['nrc'][:3]}.pdf")
            quarantined.append(c["file"])
        else:
            expected.append(expected_record(c))
        minipdf.write_pdf(os.path.join(raw_dir, c["file"]), _pages(c))
    with open(os.path.join(raw_dir, "notes.txt"), "w", encoding="utf-8") as fh:
        fh.write("not a syllabus; the scan's glob must skip it\n")
    config = {label: {"start_date": start.isoformat(),
                      "end_date": (start + dt.timedelta(weeks=18)).isoformat()}
              for label, start in PERIODS.values()}
    with open(os.path.join(raw_dir, "config.json"), "w", encoding="utf-8") as fh:
        json.dump(config, fh)
    return {"expected": expected, "quarantined": sorted(quarantined),
            "docs": n_docs, "bytes": sum(os.path.getsize(os.path.join(raw_dir, f))
                                         for f in os.listdir(raw_dir))}


def calendar_lines(expected: list[dict]) -> list[str]:
    return sorted(f"•{r['id']}: {a['name']} ({a['weight']}%)"
                  for r in expected for a in r["assessments"])


def check_output(out_dir: str, manifest: dict) -> list[str]:
    """Field-by-field comparison of the CLI's artifacts with the
    generator's records. Returns the list of problems (empty = correct)."""
    problems: list[str] = []
    want = {r["id"]: r for r in manifest["expected"]}
    with open(os.path.join(out_dir, "all_courses.json"), encoding="utf-8") as fh:
        got = {r.get("id"): r for r in json.load(fh)}
    if set(got) != set(want):
        problems.append(f"all_courses ids: {len(set(want) - set(got))} missing, "
                        f"{len(set(got) - set(want))} unexpected")
    for cid in sorted(set(got) & set(want)):
        if got[cid] != want[cid]:
            diff = sorted(k for k in set(got[cid]) | set(want[cid])
                          if got[cid].get(k) != want[cid].get(k))
            problems.append(f"{cid}: fields differ {diff}")
    per_record = {f for f in os.listdir(out_dir)
                  if f.endswith(".json") and f not in ("all_courses.json", "quarantine.json")}
    want_files = {f"{r['name']}-{r['nrc']}.json" for r in manifest["expected"]}
    if per_record != want_files:
        problems.append(f"per-record files: {len(per_record)} written, {len(want_files)} expected")
    else:
        for r in manifest["expected"][:: max(1, len(want_files) // 25)]:
            with open(os.path.join(out_dir, f"{r['name']}-{r['nrc']}.json"), encoding="utf-8") as fh:
                if json.load(fh) != r:
                    problems.append(f"per-record file of {r['id']} differs")
    with open(os.path.join(out_dir, "quarantine.json"), encoding="utf-8") as fh:
        rejects = json.load(fh)
    named = sorted(f for e in rejects for f in manifest["quarantined"] if f in e["error"])
    if len(rejects) != len(manifest["quarantined"]) or named != manifest["quarantined"]:
        problems.append(f"quarantine: {len(rejects)} rejects, expected {manifest['quarantined']}")
    with open(os.path.join(out_dir, "weekly_calendar.pdf"), "rb") as fh:
        pages = minipdf.extract_pages(fh.read())
    lines = sorted(row[1] for _text, table in pages for row in (table or [])[1:] if row[1])
    if lines != calendar_lines(manifest["expected"]):
        problems.append(f"calendar: {len(lines)} lines, "
                        f"{len(calendar_lines(manifest['expected']))} expected")
    periods = sorted(d for d in os.listdir(os.path.join(out_dir, "courses_parquet"))
                     if d.startswith("period="))
    want_periods = sorted({f"period={r['period']}" for r in manifest["expected"]})
    if periods != want_periods:
        problems.append(f"parquet partitions {periods} != {want_periods}")
    return problems
