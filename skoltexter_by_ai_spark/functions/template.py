"""Template compiler: placeholder template text -> one Spark Column.

The reference renders row-by-row with ``re.sub`` + a context dict
(program1_generate_markdowns.py:254-319). Here the template is compiled
ONCE at plan-build time into an interleaved ``F.concat`` of literal
fragments and sanitized/formatted column references — no UDF, no
per-row Python, whole-stage codegen end to end. Constant folding and
loop-invariant hoisting happen by construction (SURVEY §4).

Semantics reproduced exactly:
- placeholder syntax ``{name}`` with ``[a-zA-Z0-9_/]`` names
  (program1_generate_markdowns.py:148);
- values sanitized (trim; ''/'N/A' -> missing) then number-formatted
  ('32.0' -> '32'), missing -> '[Data Saknas]' (:92-123, :282-297);
- ``SurveyAnswerCategory*`` placeholders coalesce year-suffixed
  columns in preference order (:222-251, config.py:80);
- ``SurveySchoolYear`` resolves to the first year (in preference
  order) for which ANY survey placeholder has data (:183-219);
- placeholders naming nonexistent columns render the sentinel
  (context.get default, :311).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.functions.text import number_fmt, sanitize, with_sentinel

#: Reference src/config.py:80
SURVEY_YEAR_SUFFIXES = ("_2023/2024", "_2022/2023")
SURVEY_PREFIX = "SurveyAnswerCategory"

PLACEHOLDER_RE = re.compile(r"\{([a-zA-Z0-9_/]+)\}")


def extract_placeholders(template_text: str) -> list[str]:
    """Unique placeholder names, sorted (program1:126-148)."""
    return sorted(set(PLACEHOLDER_RE.findall(template_text)))


def _survey_value(name: str, columns: set[str]) -> Column:
    """F4: year-preference coalesce for a survey placeholder."""
    candidates = [
        sanitize(F.col(f"`{name}{suffix}`"))
        for suffix in SURVEY_YEAR_SUFFIXES
        if f"{name}{suffix}" in columns
    ]
    if not candidates:
        return F.lit(None).cast("string")
    return F.coalesce(*candidates) if len(candidates) > 1 else candidates[0]


def _survey_year(placeholders: list[str], columns: set[str]) -> Column:
    """F5: first year (preference order) where ANY survey placeholder
    has data; else NULL (sentinel applied at render)."""
    survey = [p for p in placeholders if p.startswith(SURVEY_PREFIX)]
    expr: Column | None = None
    result = F.lit(None).cast("string")
    whens = []
    for suffix in SURVEY_YEAR_SUFFIXES:
        year_cols = [
            sanitize(F.col(f"`{p}{suffix}`")) for p in survey if f"{p}{suffix}" in columns
        ]
        if year_cols:
            any_data = F.coalesce(*year_cols) if len(year_cols) > 1 else year_cols[0]
            whens.append((any_data.isNotNull(), suffix.replace("_", "")))
    for cond, year in reversed(whens):
        result = F.when(cond, F.lit(year)).otherwise(result)
    return result


def resolve_placeholder(name: str, placeholders: list[str], columns: set[str]) -> Column:
    """The sanitized raw value for one placeholder (pre-format)."""
    if name == "SurveySchoolYear" and "SurveySchoolYear" not in columns:
        return _survey_year(placeholders, columns)
    if name.startswith(SURVEY_PREFIX) and name not in columns:
        return _survey_value(name, columns)
    if name in columns:
        return sanitize(F.col(f"`{name}`"))
    return F.lit(None).cast("string")


def compile_template(template_text: str, columns: list[str] | set[str]) -> Column:
    """Compile template text to a single string Column.

    ``columns`` is the schema of the frame the expression will run on.
    Literal fragments interleave with
    ``coalesce(number_fmt(resolved), '[Data Saknas]')`` per placeholder.
    """
    cols = set(columns)
    placeholders = extract_placeholders(template_text)
    pieces: list[Column] = []
    pos = 0
    for match in PLACEHOLDER_RE.finditer(template_text):
        if match.start() > pos:
            pieces.append(F.lit(template_text[pos : match.start()]))
        value = resolve_placeholder(match.group(1), placeholders, cols)
        pieces.append(with_sentinel(number_fmt(value)))
        pos = match.end()
    if pos < len(template_text):
        pieces.append(F.lit(template_text[pos:]))
    if not pieces:
        return F.lit("")
    return F.concat(*pieces) if len(pieces) > 1 else pieces[0]


def render_documents(schools: DataFrame, template_text: str) -> DataFrame:
    """Stage-1 parity: wide schools frame (as ``read_schools_csv``
    returns it) -> (school_code, content), one row per school code.

    Key filter P2 (rows with missing SchoolCode are skipped,
    program1:376-379); the filename key is the *sanitized* (not
    number-formatted) SchoolCode (program1:377,382). A code that
    repeats keeps its LAST row in file order (``__row_idx``): the
    reference writes ``{code}.md`` once per row (S5, program1:382-389),
    so a later row overwrites an earlier one. Stage 3's display name
    stays keep-first (A3) — that is the reference's rule there.

    Scale posture: the template renders in a narrow map-only
    projection; the one shuffle carries only (code, content, row
    index) to pick each code's last row.
    """
    code = sanitize(F.col("SchoolCode"))
    return (
        schools.filter(code.isNotNull())
        .select(
            code.alias("school_code"),
            compile_template(template_text, schools.columns).alias("content"),
            "__row_idx",
        )
        .groupBy("school_code")
        .agg(F.max_by("content", "__row_idx").alias("content"))
    )
