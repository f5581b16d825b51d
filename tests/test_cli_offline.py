"""The CLI pipeline on a tiny generated register — no reference data
needed."""

from __future__ import annotations

import json
import re

from skoltexter_by_ai_spark import cli
from skoltexter_by_ai_spark.operators.enrich import CallLogTransport

CSV = (
    "SchoolCode;SchoolName;Kommun\n"
    "A100;Första raden;Lund\n"
    "B200;Bskolan;Malmö\n"
    "A100;Andra raden;Ystad\n"
    "C300;Cskolan;Eslöv\n"
)
TEMPLATE = "# {SchoolName}\n\nKommun: {Kommun}\n"


def test_repeated_school_code_renders_one_document(spark, tmp_path):
    """A repeated SchoolCode gives one document (last row in file order,
    as the reference's per-row file write leaves it), one LLM call and
    one site row (first row's name, as the reference's publish keeps
    it)."""
    csv_path = tmp_path / "schools.csv"
    csv_path.write_text(CSV, encoding="utf-8")
    tpl_path = tmp_path / "template.md"
    tpl_path.write_text(TEMPLATE, encoding="utf-8")
    log = tmp_path / "calls.log"
    out = tmp_path / "out"

    site = cli.run_pipeline(
        spark,
        str(csv_path),
        str(tpl_path),
        str(out),
        transport=CallLogTransport(str(log), default=("ok", "Enriched text.")),
    )

    docs = spark.read.parquet(str(out / cli.DOCS_DIR)).collect()
    by_code = {r.school_code: r.content for r in docs}
    assert sorted(r.school_code for r in docs) == ["A100", "B200", "C300"]
    assert by_code["A100"] == "# Andra raden\n\nKommun: Ystad\n"

    calls = log.read_text(encoding="utf-8").split()
    assert sorted(calls) == ["A100", "B200", "C300"]

    html = (out / cli.SITE_FILE).read_text(encoding="utf-8")
    assert site == str(out / cli.SITE_FILE)
    rows = json.loads(re.search(r"const schools = (\[.*?\]);", html, re.S).group(1))
    a100 = [r for r in rows if r["id"] == "A100"]
    assert len(a100) == 1 and a100[0]["name"] == "Första raden"
    assert len(rows) == 3
