"""Document-format ingestion: PDF / DOCX / EPUB builders + extractors
(operators/pdfdoc.py, operators/docx.py) and the Spark-side triage
wrapper (multimodal.extract_document_text)."""

from __future__ import annotations

import re
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xetl_spark.operators import docx as docmod
from xetl_spark.operators import pdfdoc as P

from conftest import REPO

# ---------------------------------------------------------------------------
# PDF round-trips

SAMPLE = "alpha beta gamma\nsecond (line) with \\ specials\nthird: café — €42"


@pytest.mark.parametrize("xref_stream", [False, True])
@pytest.mark.parametrize("filt", ["none", "flate", "lzw", "ahx", "a85", "rle"])
def test_pdf_roundtrip_layout_filter_matrix(xref_stream, filt):
    pages = [SAMPLE, "page two\nlast line"]
    pdf = P.build_pdf(pages, xref_stream=xref_stream, content_filter=filt)
    assert P.sniff_pdf(pdf)
    assert P.pdf_page_texts(pdf) == pages
    assert P.pdf_text(pdf) == "\f".join(pages)
    probe = P.pdf_probe(pdf)
    assert probe["pages"] == 2
    assert probe["encrypted"] is False
    assert probe["xref_kind"] == ("stream" if xref_stream else "table")
    assert probe["version"] == ("1.5" if xref_stream else "1.4")
    # object count: 4 fixed + 2/page (+ ObjStm + XRef stream), + obj 0
    assert probe["objects"] == (7 if xref_stream else 5) + 2 * len(pages)


@settings(max_examples=40, deadline=None)
@given(
    pages=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF),
                max_size=60,
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    xs=st.booleans(),
    filt=st.sampled_from(["none", "flate", "lzw", "ahx", "a85", "rle"]),
)
def test_pdf_roundtrip_property(pages, xs, filt):
    # cp1252 can't represent every latin-1 codepoint's round trip 1:1 —
    # builder encodes cp1252 with '?' replacement; mirror that here
    norm = [
        [ln.encode("cp1252", "replace").decode("cp1252") for ln in pg]
        for pg in pages
    ]
    pdf = P.build_pdf(norm, xref_stream=xs, content_filter=filt)
    assert P.pdf_page_texts(pdf) == ["\n".join(pg) for pg in norm]


def test_pdf_empty_document():
    pdf = P.build_pdf([])
    assert P.pdf_text(pdf) == ""
    assert P.pdf_probe(pdf)["pages"] == 1  # builder normalizes to one blank page


def test_pdf_reconstruction_fallback():
    pdf = P.build_pdf(["hello world\nline two"])
    # corrupt the startxref keyword → parser must salvage by sweeping
    bad = pdf.replace(b"startxref", b"stARtxref")
    assert P.pdf_text(bad) == "hello world\nline two"
    assert P.pdf_probe(bad)["xref_kind"] == "reconstructed"
    # corrupt the xref offset digits instead
    at = pdf.rindex(b"startxref")
    bad2 = pdf[: at + 10] + b"999999999\n%%EOF\n"
    assert P.pdf_text(bad2) == "hello world\nline two"


def test_pdf_encrypted_typed_error():
    pdf = P.build_pdf(["secret"])
    enc = pdf.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 4 0 R")
    with pytest.raises(P.PdfFormatError, match="encrypted"):
        P.pdf_text(enc)
    assert P.pdf_probe(enc)["encrypted"] is True


def test_pdf_wrong_length_stream_rescan():
    """A lying /Length must not corrupt extraction (endstream scan)."""
    pdf = P.build_pdf(["resilient text"], content_filter="none")
    m = re.search(rb"/Length (\d+)", pdf)
    wrong = b"/Length %d" % (int(m.group(1)) + 7)
    # keep byte offsets stable for the xref: pad with spaces
    pad = len(m.group(0)) - len(wrong)
    assert pad >= 0
    bad = pdf[: m.start()] + wrong + b" " * pad + pdf[m.end() :]
    assert P.pdf_text(bad) == "resilient text"


def test_pdf_tj_kerning_and_quote_operators():
    # hand-built content stream exercising TJ adjustments and ' / "
    content = (
        b"BT /F1 12 Tf 14 TL 72 720 Td "
        b"[(Hel) -50 (lo) -250 (world)] TJ "
        b"(next line) ' "
        b"1 2 (shown too) \" ET"
    )
    pdf = _pdf_with_content(content)
    # -50 is kerning (no space), -250 <= -180 emits a word space
    assert P.pdf_text(pdf) == "Hello world\nnext line\nshown too"


def test_pdf_inline_image_skipped():
    content = (
        b"BT /F1 12 Tf 72 720 Td (before) Tj ET "
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\xff\x12\x34 EI "
        b"BT /F1 12 Tf 72 700 Td (after) Tj ET"
    )
    pdf = _pdf_with_content(content)
    assert P.pdf_text(pdf) == "before\nafter"


def _pdf_with_content(content: bytes) -> bytes:
    """Splice raw content-stream bytes into a built one-page PDF."""
    pdf = P.build_pdf(["placeholder"], content_filter="none")
    old = P._content_stream(["placeholder"])
    assert old in pdf
    new = pdf.replace(old, content)
    # /Length and xref offsets changed — rely on the documented
    # salvage paths (length rescan tolerates growth only if endstream
    # still follows; rebuild precisely instead)
    delta = len(content) - len(old)
    m = re.search(rb"/Length (\d+)", new)
    fixed = new[: m.start()] + b"/Length %d" % (
        int(m.group(1)) + delta
    ) + new[m.end() :]
    # offsets in the classic xref table may now be stale → force sweep
    return fixed.replace(b"startxref", b"stARtxref")


def test_pdf_differences_encoding():
    """/Differences glyph names override the base encoding."""
    pdf = P.build_pdf(["AB"], content_filter="none")
    font_old = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    font_new = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /Differences [ 65 /bullet 66 /uni0042 ] >> >>"
    )
    assert font_old in pdf
    # the new dict is longer → xref offsets shift; force the documented
    # reconstruction path rather than hand-repairing the table
    bad = pdf.replace(font_old, font_new).replace(b"startxref", b"stARtxref")
    assert P.pdf_text(bad) == "•B"  # A→bullet, B→uni0042 ('B')


def test_pdf_tounicode_cmap():
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"2 beginbfchar <41> <0391> <42> <03B2> endbfchar\n"
        b"1 beginbfrange <43> <45> <0043> endbfrange\n"
        b"end"
    )
    mapping, nbytes = P._parse_tounicode(cmap)
    assert nbytes == 1
    assert mapping[0x41] == "Α" and mapping[0x42] == "β"
    assert mapping[0x43] == "C" and mapping[0x45] == "E"


def test_pdf_lzw_codec_property():
    import random

    rng = random.Random(7)
    for trial in range(30):
        n = rng.randrange(0, 4000)
        blob = (
            bytes(rng.getrandbits(8) for _ in range(n))
            if trial % 2
            else bytes(rng.choice(b"abc") for _ in range(n))
        )
        for early in (0, 1):
            assert P._lzw_decode(P._lzw_encode(blob, early), early) == blob


def test_pdf_predictor_paths():
    # PNG predictors 1-4 and TIFF 2, via direct _undo_predictor calls
    import itertools

    row = bytes(range(1, 11))
    for tag in (0, 1, 2, 3, 4):
        filtered = bytes([tag]) + row + bytes([tag]) + row
        out = P._undo_predictor(filtered, {"Predictor": 10, "Columns": 10})
        assert len(out) == 20
    tiff = P._undo_predictor(
        bytes([5, 1, 1, 1]), {"Predictor": 2, "Columns": 4}
    )
    assert tiff == bytes([5, 6, 7, 8])
    with pytest.raises(P.PdfFormatError):
        P._undo_predictor(bytes([9]) + row, {"Predictor": 10, "Columns": 10})


def test_pdf_hostile_fuzz_typed_errors_only():
    """Truncations and bit flips must yield PdfFormatError or a valid
    string — never an unhandled exception class."""
    import random

    rng = random.Random(42)
    base = P.build_pdf(
        [SAMPLE, "second page"], xref_stream=True, content_filter="flate"
    )
    cases = [base[: len(base) * k // 7] for k in range(7)]
    for _ in range(120):
        mutated = bytearray(base)
        for _k in range(rng.randrange(1, 6)):
            mutated[rng.randrange(len(mutated))] ^= 1 << rng.randrange(8)
        cases.append(bytes(mutated))
    for payload in cases:
        try:
            out = P.pdf_text(payload)
            assert isinstance(out, str)
        except P.PdfFormatError:
            pass


def test_pdf_decompression_bomb_guard():
    bomb = zlib.compress(b"\x00" * (P.MAX_STREAM_BYTES + 100), 9)
    with pytest.raises(P.PdfFormatError, match="cap"):
        P._flate(bomb)


# ---------------------------------------------------------------------------
# DOCX

PARAS = ["first paragraph", "tabbed\tcell text", "broken\nline", "x & <y>"]


def test_docx_roundtrip_and_probe():
    blob = docmod.build_docx(PARAS)
    assert docmod.sniff_zip(blob)
    assert docmod.docx_text(blob) == "\n".join(PARAS)
    probe = docmod.docx_probe(blob)
    assert probe["paragraphs"] == len(PARAS)
    assert probe["tables"] == 0 and probe["media"] == 0


@settings(max_examples=30, deadline=None)
@given(
    paras=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=0x20, max_codepoint=0x2FF
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_docx_roundtrip_property(paras):
    assert docmod.docx_text(docmod.build_docx(paras)) == "\n".join(paras)


def test_docx_table_cells_walked_in_order():
    blob = docmod.build_docx(["before"])
    table = (
        "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>c1</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>c2</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
    )
    doc = _patch_docx_xml(
        blob, lambda xml: xml.replace("<w:sectPr/>", table + "<w:sectPr/>")
    )
    assert docmod.docx_text(doc) == "before\nc1\nc2"
    assert docmod.docx_probe(doc)["tables"] == 1


def _patch_docx_xml(blob: bytes, fn):
    import io
    import zipfile

    src = zipfile.ZipFile(io.BytesIO(blob))
    members = []
    for name in src.namelist():
        data = src.read(name)
        if name == "word/document.xml":
            data = fn(data.decode("utf-8")).encode("utf-8")
        members.append((name, data))
    return docmod._zip_bytes(members)


def test_docx_typed_errors():
    with pytest.raises(docmod.DocxFormatError, match="zip"):
        docmod.docx_text(b"plainly not a zip file")
    # an EPUB is a zip but not a DOCX
    eb = docmod.build_epub([("t", "x")])
    with pytest.raises(docmod.DocxFormatError, match="document.xml"):
        docmod.docx_text(eb)
    # malformed XML
    bad = _patch_docx_xml(docmod.build_docx(["a"]), lambda xml: xml[:-9])
    with pytest.raises(docmod.DocxFormatError, match="XML"):
        docmod.docx_text(bad)


def test_pdf_malformed_int_fields_typed():
    """A /Name (or other non-number) where the spec wants an integer —
    e.g. /DecodeParms << /Predictor /Ten >> — must raise PdfFormatError,
    not a plain ValueError/TypeError that escapes the per-row triage."""
    with pytest.raises(P.PdfFormatError, match="integer"):
        P._undo_predictor(b"\x00\x01", {"Predictor": P.Name("Ten")})
    with pytest.raises(P.PdfFormatError, match="integer"):
        P._undo_predictor(
            b"\x00\x01", {"Predictor": 10, "Columns": P.Name("Wide")}
        )
    # _as_int unit contract
    assert P._as_int(7) == 7 and P._as_int(3.9) == 3
    for bad in (P.Name("Ten"), [1, 2], b"5", True, None):
        with pytest.raises(P.PdfFormatError):
            P._as_int(bad)


def test_docx_nesting_depth_cap_typed():
    """A crafted deeply-nested document.xml raises DocxFormatError (the
    typed triage class), never RecursionError."""
    depth = 2000
    nested = (
        "<w:tbl>" * depth
        + "<w:p><w:r><w:t>deep</w:t></w:r></w:p>"
        + "</w:tbl>" * depth
    )
    blob = _patch_docx_xml(
        docmod.build_docx(["ok"]),
        lambda xml: xml.replace("<w:sectPr/>", nested + "<w:sectPr/>"),
    )
    with pytest.raises(docmod.DocxFormatError, match="depth"):
        docmod.docx_text(blob)
    # the run-level walk is capped too
    runs = (
        "<w:p>" + "<w:smartTag>" * depth
        + "<w:r><w:t>x</w:t></w:r>"
        + "</w:smartTag>" * depth + "</w:p>"
    )
    blob2 = _patch_docx_xml(
        docmod.build_docx(["ok"]),
        lambda xml: xml.replace("<w:sectPr/>", runs + "<w:sectPr/>"),
    )
    with pytest.raises(docmod.DocxFormatError, match="depth"):
        docmod.docx_text(blob2)


def test_extract_document_text_survives_hostile_rows(spark):
    """End-to-end per-row contract: hostile payloads (deep nesting,
    malformed int fields, fuzz) land in err; healthy rows still parse."""
    from xetl_spark.operators.multimodal import extract_document_text

    depth = 2000
    nested = (
        "<w:tbl>" * depth + "<w:p/>" + "</w:tbl>" * depth
    )
    deep_docx = _patch_docx_xml(
        docmod.build_docx(["ok"]),
        lambda xml: xml.replace("<w:sectPr/>", nested + "<w:sectPr/>"),
    )
    rows = [
        (1, P.build_pdf(["healthy pdf"])),
        (2, deep_docx),
        (3, docmod.build_docx(["healthy docx"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["id"]: r.asDict() for r in extract_document_text(df).collect()}
    assert len(got) == 3
    assert got[1]["text"] == "healthy pdf" and got[1]["err"] is None
    assert got[2]["text"] is None and "depth" in got[2]["err"]
    assert got[3]["text"] == "healthy docx" and got[3]["err"] is None


def test_extract_document_text_fuzz_never_kills_job(spark):
    """The per-row triage backstop under fuzz: random truncations and
    bit flips of real PDF/DOCX/EPUB/XLSX payloads must all come back as
    rows (text or err), never as a job failure."""
    import random

    rng = random.Random(77)
    from xetl_spark.operators.multimodal import extract_document_text

    bases = [
        P.build_pdf(["fuzz page one", "page two"], xref_stream=True),
        docmod.build_docx(["alpha", "beta"]),
        docmod.build_epub([("t", "chapter body")]),
        docmod.build_xlsx([["a", 1.5], ["b", 2]]),
    ]
    rows = []
    rid = 0
    for base in bases:
        for k in range(1, 6):
            rows.append((rid, base[: len(base) * k // 6]))
            rid += 1
        for _ in range(10):
            mutated = bytearray(base)
            for _k in range(rng.randrange(1, 5)):
                mutated[rng.randrange(len(mutated))] ^= 1 << rng.randrange(8)
            rows.append((rid, bytes(mutated)))
            rid += 1
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = extract_document_text(df).collect()
    assert len(got) == len(rows)  # every row survived
    for r in got:
        assert (r["text"] is not None) or (r["err"] is not None)


def test_zip_bomb_guards(monkeypatch):
    blob = docmod.build_docx(["regular sized"])
    monkeypatch.setattr(docmod, "MAX_MEMBERS", 2)
    with pytest.raises(docmod.DocxFormatError, match="members"):
        docmod.docx_text(blob)
    monkeypatch.setattr(docmod, "MAX_MEMBERS", 10_000)
    monkeypatch.setattr(docmod, "MAX_MEMBER_BYTES", 8)
    with pytest.raises(docmod.DocxFormatError, match="cap"):
        docmod.docx_text(blob)


# ---------------------------------------------------------------------------
# EPUB


def test_epub_roundtrip_titles_and_probe():
    chs = [("Chapter One", "line a\nline b & c"), ("", "untitled chapter")]
    eb = docmod.build_epub(chs, title="My Book", language="fr")
    # titled chapter contributes its <title> line; untitled does not
    assert docmod.epub_text(eb) == "Chapter One\nline a\nline b & c\funtitled chapter"
    probe = docmod.epub_probe(eb)
    assert probe["chapters"] == 2
    assert probe["title"] == "My Book" and probe["language"] == "fr"
    assert probe["mimetype"] == "application/epub+zip"


def test_epub_html_stripping_semantics():
    assert docmod._html_text(
        "<html><head><style>p{color:red}</style>"
        "<script>var x='<p>'</script></head>"
        "<body><h1>Title</h1><p>one &amp; two</p>"
        "<div>three<br/>four</div></body></html>"
    ) == "Title\none & two\nthree\nfour"


def test_epub_typed_errors():
    with pytest.raises(docmod.EpubFormatError, match="zip"):
        docmod.epub_text(b"nope")
    dx = docmod.build_docx(["a"])
    with pytest.raises(docmod.EpubFormatError):
        docmod.epub_text(dx)
    # spine pointing at a missing member
    import io
    import zipfile

    eb = docmod.build_epub([("t", "x")])
    src = zipfile.ZipFile(io.BytesIO(eb))
    members = [
        (n, src.read(n)) for n in src.namelist() if not n.endswith(".xhtml")
    ]
    broken = docmod._zip_bytes(members, stored_first=True)
    with pytest.raises(docmod.EpubFormatError, match="missing member"):
        docmod.epub_text(broken)


# ---------------------------------------------------------------------------
# Spark wrapper


def test_extract_document_text_triage(spark):
    from xetl_spark.operators.multimodal import extract_document_text

    rows = [
        (1, P.build_pdf(["pdf body text\nsecond line", "page 2"])),
        (2, docmod.build_docx(["docx para one", "docx para two"])),
        (3, docmod.build_epub([("", "epub chapter text")])),
        (4, b"\x00not a document at all"),
        (5, P.build_pdf(["x"]).replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 4 0 R")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {
        r["id"]: r.asDict()
        for r in extract_document_text(df).collect()
    }
    assert got[1]["fmt"] == "pdf" and got[1]["pages"] == 2
    assert got[1]["text"] == "pdf body text\nsecond line\fpage 2"
    assert got[2]["fmt"] == "docx"
    assert got[2]["text"] == "docx para one\ndocx para two"
    assert got[3]["fmt"] == "epub" and got[3]["text"] == "epub chapter text"
    assert got[4]["fmt"] is None and "unrecognized" in got[4]["err"]
    assert got[5]["fmt"] is None and "encrypted" in got[5]["err"]
    # triage never fails the job: every input row survived
    assert len(got) == 5


def test_doc_text_builtin_task(spark, tmp_path):
    """Declarative `doc_text` stage: binary payloads in, triaged text out."""
    import textwrap

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    rows = [
        (1, P.build_pdf(["task-level pdf text"])),
        (2, docmod.build_docx(["task-level docx text"])),
        (3, b"junk payload"),
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, media binary").write.mode(
        "overwrite"
    ).parquet(str(src))
    job = Job.from_yaml(
        textwrap.dedent(
            f"""
            name: dt
            commands:
              - {{name: docs, task: read_parquet, env: {{PATH: {src}}}}}
              - {{name: text, task: doc_text, env: {{COLUMN: media}}}}
            """
        )
    )
    results = run_job(spark, job)
    got = {r.id: r.asDict() for r in results[-1].output.collect()}
    assert got[1]["fmt"] == "pdf" and got[1]["text"] == "task-level pdf text"
    assert got[2]["fmt"] == "docx" and got[2]["text"] == "task-level docx text"
    assert got[3]["fmt"] is None and got[3]["err"] is not None


# ---------------------------------------------------------------------------
# XLSX


def test_xlsx_roundtrip_cell_types():
    rows = [["name", "qty", "ok"], ["alpha", 3, True], ["beta", 2.5, False], [None, 7]]
    blob = docmod.build_xlsx(rows, sheet_name="Data")
    cells = docmod.xlsx_cells(blob)
    assert ("Data", 1, "A", "name", None) in cells
    assert ("Data", 2, "B", None, 3.0) in cells
    assert ("Data", 2, "C", None, 1.0) in cells  # True → 1.0
    assert ("Data", 3, "B", None, 2.5) in cells
    assert ("Data", 4, "B", None, 7.0) in cells
    # None cell skipped entirely
    assert not any(c[1] == 4 and c[2] == "A" for c in cells)
    probe = docmod.xlsx_probe(blob)
    assert probe["sheets"] == ["Data"]
    assert probe["shared_strings"] == 5  # name qty ok alpha beta (deduped)


def test_xlsx_shared_string_dedup_and_wide_columns():
    # same string in many cells → one shared entry; column AA+ names
    rows = [["dup"] * 30, ["dup"] * 30]
    blob = docmod.build_xlsx(rows)
    assert docmod.xlsx_probe(blob)["shared_strings"] == 1
    cells = docmod.xlsx_cells(blob)
    cols = {c[2] for c in cells}
    assert "AA" in cols and "AD" in cols  # 30 columns: A..Z, AA..AD
    assert docmod._col_name(0) == "A"
    assert docmod._col_name(25) == "Z"
    assert docmod._col_name(26) == "AA"
    assert docmod._col_name(701) == "ZZ"
    assert docmod._col_name(702) == "AAA"


def test_xlsx_typed_errors():
    with pytest.raises(docmod.XlsxFormatError, match="zip"):
        docmod.xlsx_cells(b"not zipped")
    with pytest.raises(docmod.XlsxFormatError, match="workbook"):
        docmod.xlsx_cells(docmod.build_docx(["x"]))
    # corrupt shared-string index
    blob = docmod.build_xlsx([["text"]])
    import io
    import zipfile as _zf

    src = _zf.ZipFile(io.BytesIO(blob))
    members = []
    for n in src.namelist():
        data = src.read(n)
        if n.endswith("sheet1.xml"):
            data = data.replace(b"<v>0</v>", b"<v>99</v>")
        members.append((n, data))
    bad = docmod._zip_bytes(members)
    with pytest.raises(docmod.XlsxFormatError, match="shared-string"):
        docmod.xlsx_cells(bad)


def test_extract_document_text_xlsx(spark):
    from xetl_spark.operators.multimodal import extract_document_text

    blob = docmod.build_xlsx([["a", "b"], [1, "c"]], sheet_name="S")
    df = spark.createDataFrame([(9, blob)], "doc_id long, media binary")
    row = extract_document_text(df).collect()[0]
    assert row["fmt"] == "xlsx"
    assert row["text"] == "a\tb\n1\tc"
    assert row["pages"] == 1


def test_document_ingest_example_job(spark, tmp_path):
    """examples/document_ingest.yml end-to-end on a planted folder of
    mixed documents + one corrupt file: extraction succeeds, the
    corrupt file survives as an err row, sink partitions by format."""
    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "a.pdf").write_bytes(
        P.build_pdf(["pdf corpus text body words here"], xref_stream=True)
    )
    (docs / "b.docx").write_bytes(docmod.build_docx(["docx corpus text body"]))
    (docs / "c.epub").write_bytes(
        docmod.build_epub([("", "epub corpus text body")])
    )
    (docs / "d.xlsx").write_bytes(
        docmod.build_xlsx([["cell one text", "cell two more"]])
    )
    (docs / "broken.pdf").write_bytes(b"%PDF-1.4 truncated garbage")

    manifest = tmp_path / "job.yml"
    text = open(REPO / "examples" / "document_ingest.yml").read()
    text = text.replace("DOCS_DIR: ./data/docs", f"DOCS_DIR: {docs}")
    text = text.replace(
        "OUT_DIR: /tmp/xetl_document_ingest_out", f"OUT_DIR: {tmp_path}/out"
    )
    manifest.write_text(text)
    results = run_job(spark, Job.from_file(str(manifest)))
    assert all(r.status == "success" for r in results)
    triage = {r.fmt: r.asDict() for r in results[2].output.collect()}
    assert triage["failed"]["n_errors"] == 1
    assert set(triage) == {"pdf", "docx", "epub", "xlsx", "failed"}
    out = spark.read.parquet(f"{tmp_path}/out")
    got = {r.fmt: r.text for r in out.collect()}
    assert got["pdf"] == "pdf corpus text body words here"
    assert got["xlsx"] == "cell one text\tcell two more"
    assert len(got) == 4


# ---------------------------------------------------------------------------
# PDF embedded images


def test_pdf_images_raw_and_jpeg_roundtrip():
    import numpy as np

    from xetl_spark.operators import jpeg

    rgb = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    gray = ((np.arange(64).reshape(8, 8) * 3) % 256).astype(np.uint8)
    for xs in (False, True):
        pdf = P.build_pdf(
            ["text with figure", "page2"],
            xref_stream=xs,
            images=[(0, rgb), (1, gray)],
            image_format="raw",
        )
        # text extraction unaffected by Do operators / XObject resources
        assert P.pdf_text(pdf) == "text with figure\fpage2"
        imgs = {i["page"]: i for i in P.pdf_images(pdf)}
        assert imgs[0]["colorspace"] == "DeviceRGB" and imgs[0]["kind"] == "raw"
        assert np.array_equal(
            np.frombuffer(imgs[0]["data"], np.uint8).reshape(16, 16, 3), rgb
        )
        assert imgs[1]["colorspace"] == "DeviceGray"
        assert np.array_equal(
            np.frombuffer(imgs[1]["data"], np.uint8).reshape(8, 8), gray
        )
    jp = P.build_pdf(["jpeg fig"], images=[(0, rgb)], image_format="jpeg")
    (img,) = P.pdf_images(jp)
    assert img["kind"] == "jpeg"
    dec = jpeg.jpeg_decode(img["data"])
    assert dec.shape == (16, 16, 3)
    assert abs(dec.astype(int) - rgb.astype(int)).mean() < 20


def test_pdf_images_guards():
    import numpy as np

    with pytest.raises(ValueError, match="uint8"):
        P.build_pdf(["x"], images=[(0, np.zeros((4, 4), np.int16))])
    with pytest.raises(ValueError, match="page index"):
        P.build_pdf(["x"], images=[(5, np.zeros((4, 4), np.uint8))])
    # no images → no XObject entries, empty result
    assert P.pdf_images(P.build_pdf(["plain"])) == []
    # truncated raw sample buffer → typed error
    arr = np.zeros((8, 8, 3), np.uint8)
    pdf = P.build_pdf(["x"], images=[(0, arr)])
    import re as _re
    import zlib as _z

    full = _z.compress(arr.tobytes(), 6)
    short = _z.compress(arr.tobytes()[:100], 6)
    assert full in pdf
    bad = pdf.replace(full, short)
    m = _re.search(rb"/Width 8 /Height 8[^>]*", bad)
    assert m
    # fix the stream /Length for the shorter payload, then force sweep
    bad = _re.sub(
        rb"/Length %d " % len(full), rb"/Length %d " % len(short), bad
    ).replace(b"startxref", b"stARtxref")
    with pytest.raises(P.PdfFormatError, match="sample buffer short"):
        P.pdf_images(bad)


def test_streaming_document_ingest(spark, tmp_path):
    """doc_text works as a Structured Streaming transform: a binaryFile
    readStream of mixed documents flows through the same Arrow-batched
    mapInPandas (streaming ingest-on-arrival of a document drop)."""
    from xetl_spark.operators.multimodal import extract_document_text
    from xetl_spark.streaming.windows import run_stream_to_memory

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.pdf").write_bytes(P.build_pdf(["streamed pdf text"]))
    (drop / "b.docx").write_bytes(docmod.build_docx(["streamed docx text"]))
    (drop / "c.bin").write_bytes(b"\x01\x02 not a doc")

    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", 2)
        .load(str(drop))
    )
    extracted = extract_document_text(stream, media_col="content", id_col="path")
    got = {
        r["id"].rsplit("/", 1)[-1]: r.asDict()
        for r in run_stream_to_memory(extracted, mode="append").collect()
    }
    assert got["a.pdf"]["fmt"] == "pdf" and got["a.pdf"]["text"] == "streamed pdf text"
    assert got["b.docx"]["fmt"] == "docx"
    assert got["c.bin"]["fmt"] is None and got["c.bin"]["err"] is not None


def test_probe_media_routes_document_containers(spark):
    """probe_media names document containers (pdf/docx/epub/xlsx/zip)
    for mixed-corpus triage; extraction stays extract_document_text's
    job. PDF page count lands in n_frames (the fan-out unit)."""
    import io
    import zipfile

    from xetl_spark.operators.multimodal import probe_media

    plain_zip = io.BytesIO()
    with zipfile.ZipFile(plain_zip, "w") as zf:
        zf.writestr("anything.txt", "x")
    rows = [
        (1, P.build_pdf(["p1", "p2", "p3"])),
        (2, docmod.build_docx(["a"])),
        (3, docmod.build_epub([("", "c")])),
        (4, docmod.build_xlsx([["v"]])),
        (5, plain_zip.getvalue()),
        (6, b"\x00\x01\x02 nothing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["id"]: r.asDict() for r in probe_media(df).collect()}
    assert got[1]["container"] == "pdf" and got[1]["n_frames"] == 3
    assert got[2]["container"] == "docx"
    assert got[3]["container"] == "epub"
    assert got[4]["container"] == "xlsx"
    assert got[5]["container"] == "zip"
    assert got[6]["container"] == "unknown"
