"""SHUFFLE.md section splicing shared by tools/stage_metrics.py,
tools/skew_evidence.py and tools/spill_probe.py: one rule, a section
runs from its heading to the next ``## `` heading or EOF. No Spark."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from stage_metrics import write_section  # noqa: E402

TITLE = "# SHUFFLE — measured data movement per headline query"
SKEW = "## Skew evidence"
SPILL = "## Constrained-memory spill"
GROWTH = "## sf1 shuffle growth\n\nNOTE: kept by hand.\n\n| q | mb |\n|---|---|\n| a | 1 |\n"
TAIL = "## Notes\n\nlast section, no trailing heading\n"


def _section(heading: str, body: str) -> str:
    return f"{heading}\n\n{body}\n\n| col |\n|---|\n| {body} |\n"


def test_each_tool_section_is_replaced_in_place(tmp_path):
    doc = tmp_path / "SHUFFLE.md"
    doc.write_text(
        "\n".join([_section(TITLE, "v0"), _section(SKEW, "v0"), _section(SPILL, "v0"), GROWTH, TAIL])
    )
    for version in ("v1", "v2"):
        for heading in (TITLE, SKEW, SPILL):
            write_section(doc, _section(heading, version))
    text = doc.read_text()
    for heading in (TITLE, SKEW, SPILL, "## sf1 shuffle growth", "## Notes"):
        assert text.count(heading + "\n") == 1, heading
    for heading in (TITLE, SKEW, SPILL):
        assert _section(heading, "v2") in text
    assert "v0" not in text and "v1" not in text
    # sections no tool owns stay byte-identical, and in place
    assert GROWTH in text and text.endswith(TAIL)
    assert text.index(SPILL) < text.index("## sf1 shuffle growth")


def test_missing_section_is_appended_once(tmp_path):
    doc = tmp_path / "SHUFFLE.md"
    doc.write_text(_section(TITLE, "v0"))
    write_section(doc, _section(SPILL, "v1"))
    write_section(doc, _section(SKEW, "v1"))
    write_section(doc, _section(SPILL, "v2"))
    text = doc.read_text()
    assert text == "\n".join([_section(TITLE, "v0"), _section(SPILL, "v2"), _section(SKEW, "v1")])
