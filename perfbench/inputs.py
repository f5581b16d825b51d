"""Seeded benchmark inputs.

Star-schema tables come from the repository's own generator
(``tools/gen_scaled_fixtures.py``), run unchanged as a subprocess. The
schools register and its template follow FIXTURES.md section 1: a
``utf-8-sig`` CSV with a quoted header, ``;`` separated, 122 string
columns, and every edge case the section lists. The expected site rows
are recomputed here in plain Python from the same CSV, so the pipeline
check never reads the program's own dedup code.
"""

from __future__ import annotations

import csv
import os
import random
import subprocess
import sys

FALLBACK_NAME = "School (Code: {code})"

IDENTITY = ["SchoolCode", "SchoolName", "SchoolNameWithMunicipality", "SchoolOrganisation"]
ORG_COUNTS = [
    "SchoolOrganisationNumberOfSchools",
    "SchoolOrganisationNumberOfLowerStageSchools",
    "SchoolOrganisationNumberOfMiddleStageSchools",
    "SchoolOrganisationNumberOfUpperStageSchools",
    "SchoolOrganisationNumberOfLowerAndMiddleStageSchools",
    "SchoolOrganisationNumberOfMiddleAndUpperStageSchools",
    "SchoolOrganisationNumberOfAllStagesSchools",
    "MunicipalityNumberOfSchoolsManaged",
    "MunicipalityNumberOfSchools",
]
PROFILE = ["SchoolStages", "FirstSchoolyearInCurrentRecords"]
STUDENT_COUNTS = (
    ["TotalNumberOfStudents", "GradeFNumberOfStudents"]
    + [f"Grade{g}NumberOfStudents" for g in range(1, 10)]
    + ["LowerStageNumberOfStudents", "MiddleStageNumberOfStudents", "UpperStageNumberOfStudents"]
)
RATIOS = [
    "ForeignBackgroundPercentage",
    "ParentalEducationPercentage",
    "StudentTeacherRatio",
    "FullTimeTeachers",
    "TeacherQualificationPercentage",
]
RESULTS = ["ResultGrade6AverageScore", "ResultGrade9AverageScore", "ResultGrade3NationalExams"]
CATEGORIES = [
    "ForeignBackgroundComparison",
    "ParentalEducationComparison",
    "StudentTeacherRatioComparison",
    "TeacherQualificationComparison",
    "ResultCategoryGrade6AverageScore",
    "ResultCategoryGrade9AverageScore",
    "ResultCategoryGrade3NationalExams",
]
HISTORY_YEARS = ["1819", "1920", "2021", "2122", "2223"]
HISTORY_FIELDS = [
    "TotalNumberOfStudents",
    "LowerStageNumberOfStudents",
    "MiddleStageNumberOfStudents",
    "UpperStageNumberOfStudents",
    "ResultGrade6AverageScore",
    "ResultGrade9AverageScore",
    "ResultCategoryGrade6AverageScore",
    "ResultCategoryGrade9AverageScore",
    "ResultGrade3NationalExams",
    "ResultCategoryGrade3NationalExams",
]
SURVEY_TOPICS = [
    "ParentsRegardingParentsReceivingInformationAboutTheirChildsDevelopment",
    "ParentsRegardingParentsSatisfactionWithTheirChildsSchool",
    "ParentsRegardingParentsPerceptionOfStudentInteractions",
    "TeachersRegardingNecessaryDevelopmentMeasures",
    "TeachersRegardingTeacherPerceptionOfStudentSupport",
    "TeachersRegardingTeacherPerceptionOfStudentInteractions",
    "Grade8RegardingClassroomDisruptions",
    "Grade8RegardingAdultSupervisionDuringBreaks",
    "Grade8RegardingStudentSatisfaction",
    "Grade8RegardingStudentSafety",
    "Grade5RegardingClassroomDisruptions",
    "Grade5RegardingAdultSupervisionDuringBreaks",
    "Grade5RegardingStudentSatisfaction",
    "Grade5RegardingStudentSafety",
]
SURVEY_BASES = [f"SurveyAnswerCategory{t}" for t in SURVEY_TOPICS]
SURVEY_YEARS = ["_2023/2024", "_2022/2023"]

HISTORY = [f"{y}{f}" for y in HISTORY_YEARS for f in HISTORY_FIELDS]
SURVEY = [f"{b}{y}" for b in SURVEY_BASES for y in SURVEY_YEARS]
COLUMNS = (
    IDENTITY + ORG_COUNTS + PROFILE + STUDENT_COUNTS + RATIOS + RESULTS
    + CATEGORIES + HISTORY + SURVEY
)
assert len(COLUMNS) == 122 and len(set(COLUMNS)) == 122

COMPARISON = ["Under medel", "Medel", "Över medel"]
STAGES = ["Låg- och mellanstadieskola", "Grundskola F-9", "Högstadieskola"]
SYLLABLES = ["brå", "ås", "vik", "lund", "berg", "ö", "sjö", "dal", "hem", "näs", "by", "å"]
MISSING = ["", "N/A", "n/a"]


def generate_tables(root: str, out_dir: str, sf: float, seed: int) -> None:
    """Run the repository's fixture generator, unchanged, for ``seed``."""
    subprocess.run(
        [
            sys.executable,
            os.path.join(root, "tools", "gen_scaled_fixtures.py"),
            "--sf", str(sf), "--seed", str(seed), "--out", out_dir,
        ],
        check=True,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )


def _name(rng: random.Random) -> str:
    stem = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
    return stem.capitalize() + rng.choice([" skola", "skolan", " grundskola"])


def _value(rng: random.Random, col: str) -> str:
    """One cell; about one in ten is a missing-value spelling."""
    if rng.random() < 0.1:
        return rng.choice(MISSING)
    if col in CATEGORIES or "ResultCategory" in col:
        return rng.choice(COMPARISON)
    if col == "SchoolStages":
        return rng.choice(STAGES)
    if col == "FirstSchoolyearInCurrentRecords":
        year = rng.randint(2005, 2020)
        return f"{year}/{year + 1}"
    if col in RATIOS or "Score" in col or "Exams" in col:
        return f"{rng.uniform(5, 95):.1f}"
    count = rng.randint(0, 600)
    # Integer counts sometimes carry the trailing ".0" the renderer strips.
    return f"{count}.0" if rng.random() < 0.3 else str(count)


def schools_register(n_schools: int, seed: int) -> list[dict[str, str]]:
    """``n_schools`` coded rows plus one uncoded row; about 1% of the
    coded rows repeat an earlier code."""
    rng = random.Random(seed)
    n_dups = max(2, round(n_schools / 100))
    n_unique = n_schools - n_dups
    codes = [f"skola{seed % 997:03d}x{i:05d}" for i in range(n_unique)]
    rows: list[dict[str, str]] = []
    for code in codes:
        name = _name(rng)
        row = {c: _value(rng, c) for c in COLUMNS}
        row["SchoolCode"] = code
        row["SchoolName"] = name
        row["SchoolNameWithMunicipality"] = f"{name} i {_name(rng).split()[0]}"
        row["SchoolOrganisation"] = f"{_name(rng).split()[0]} kommun"
        for base in SURVEY_BASES:
            # Some answers exist only in the older survey year.
            if rng.random() < 0.3:
                row[f"{base}_2023/2024"] = ""
        rows.append(row)
    for i in rng.sample(range(n_unique), max(1, n_unique // 50)):
        rows[i]["SchoolName"] = rng.choice(["", "  "])
    repeated = rng.sample(codes, n_dups)
    for code in repeated:
        dup = {c: _value(rng, c) for c in COLUMNS}
        dup["SchoolCode"] = code
        dup["SchoolName"] = _name(rng) + " (andra raden)"
        first = next(i for i, r in enumerate(rows) if r["SchoolCode"] == code)
        rows.insert(rng.randint(first + 1, len(rows)), dup)
    uncoded = {c: _value(rng, c) for c in COLUMNS}
    uncoded["SchoolCode"] = ""
    uncoded["SchoolName"] = "Skola utan kod"
    rows.insert(rng.randint(0, len(rows)), uncoded)
    return rows


def write_schools_csv(path: str, rows: list[dict[str, str]]) -> None:
    """BOM, quoted header, ``;`` separator, unquoted cells."""
    with open(path, "w", encoding="utf-8-sig", newline="") as fh:
        fh.write(";".join(f'"{c}"' for c in COLUMNS) + "\n")
        writer = csv.writer(fh, delimiter=";", quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        for row in rows:
            writer.writerow([row[c] for c in COLUMNS])


def template_text() -> str:
    """A markdown template naming every column: plain columns directly,
    survey columns through their year-coalesced base name."""
    lines = ["# {SchoolName}", "", "Kod: {SchoolCode}", ""]
    for col in COLUMNS:
        if col in SURVEY or col in ("SchoolName", "SchoolCode"):
            continue
        lines.append(f"- {col}: {{{col}}}")
    lines += ["", "## Enkät {SurveySchoolYear}", ""]
    lines += [f"- {base}: {{{base}}}" for base in SURVEY_BASES]
    return "\n".join(lines) + "\n"


def expected_site(csv_path: str) -> dict[str, str]:
    """Reference publish semantics from the CSV alone: code -> display
    name, one entry per stripped non-blank code, first row wins, blank
    names fall back to ``School (Code: {code})``."""
    expected: dict[str, str] = {}
    with open(csv_path, encoding="utf-8-sig", newline="") as fh:
        for row in csv.DictReader(fh, delimiter=";"):
            code = (row.get("SchoolCode") or "").strip()
            if not code or code in expected:
                continue
            name = (row.get("SchoolName") or "").strip()
            expected[code] = name or FALLBACK_NAME.format(code=code)
    return expected
