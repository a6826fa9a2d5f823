"""Fuzz parity: arbitrary random raw spans (not the family-shaped fixture
docs) through both Spark engines vs the oracle — catches contract drift on
payload shapes the corpus generator never emits (garbage scans, markup
edge cases, empty strings, exotic whitespace mixes)."""

import base64
import random

import pytest

from document_processor_spark import contract as C
from document_processor_spark import fixtures, oracle, pipeline
from tests.conftest import collect_spans

_PIECES = [
    "", " ", "\t", "\n", "x", "word", "H1:", "H1: t", "H2:x",
    "glyph<1>", "glyph<c=2,font=/AB+F-G>", "GLYPH<>", "glyph<c=,font=/>",
    "déjà\tüber", "a  b", "<p>body text here</p>", "<h3>t</h3>",
    "<nav><a href='/'>x</a></nav>", "<p></p>", "<br>", "a\nb",
    "h\tc\nv\t", "\t\n\t", "scan:", "scan:!!!", "scan:AAAA",
    # invalid base64 length / padding and invalid UTF-8 bytes: must yield
    # null (dropped span), never an executor exception (ADVICE r1)
    "scan:A", "scan:AB", "scan:/w==", "scan:AAA", "scan:AA=A",
    "scan:====", "scan:AA==AA==", "scan:oA==",
    "scan:" + base64.b64encode("H2: decoded ok".encode()).decode(),
    "scan:" + base64.b64encode(" glyph<9> ".encode()).decode(),
]
_KINDS = ["pdf_text", "pdf_scan", "html", "table_raw", "media", "junk_kind"]
# in this seed's docs every raw kind can draw a null text and the raw kind
# itself can be null; the other seeds give a null text to media only
NULL_SEED = 4


def _random_docs(seed: int, n_docs: int = 60) -> list[dict]:
    rng = random.Random(seed)
    nulls = seed == NULL_SEED
    kinds = _KINDS + [None] if nulls else _KINDS
    docs = []
    for i in range(n_docs):
        n = rng.randint(0, 12)
        # duplicates allowed: spans sharing one (page, block) slot exercise
        # the deterministic content tie-break (oracle.span_tiebreak)
        offsets = [rng.randrange(4 * C.PAGE_STRIDE) for _ in range(n)]
        if offsets:
            offsets[0] = offsets[-1]  # force at least one duplicate slot
        spans = []
        for off in offsets:
            kind = rng.choice(kinds)
            text = rng.choice([None] + _PIECES) if kind == "media" or nulls \
                else rng.choice(_PIECES)
            mref = f"m-{rng.getrandbits(16):04x}" if kind == "media" else None
            spans.append({"kind": kind, "text": text,
                          "media_ref": mref, "offset": off})
        rng.shuffle(spans)
        docs.append({"doc_id": f"fuzz-{seed}-{i:04d}", "spans": spans})
    return docs


@pytest.mark.parametrize("seed", [1, 2, 3, NULL_SEED])
@pytest.mark.parametrize("engine", ["sql", "arrow"])
def test_fuzz_spark_equals_oracle(spark, seed, engine):
    docs = _random_docs(seed)
    expected, _ = oracle.extract_corpus(docs)
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]]) for d in docs]
    df = spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)
    got = collect_spans(pipeline.extract_documents(df, engine=engine))
    assert got == expected


@pytest.mark.parametrize("engine", ["sql", "arrow"])
def test_duplicate_offset_tiebreak(spark, engine):
    """Spans sharing an exact (page, block) slot order deterministically by
    the crc32 content key, identically in oracle and both engines."""
    spans = [
        {"kind": "pdf_text", "text": "zeta body", "media_ref": None, "offset": 5},
        {"kind": "pdf_text", "text": "alpha body", "media_ref": None, "offset": 5},
        {"kind": "pdf_text", "text": "H1: dup heading", "media_ref": None, "offset": 5},
        {"kind": "media", "text": None, "media_ref": "m-1", "offset": 5},
        {"kind": "media", "text": None, "media_ref": "m-0", "offset": 5},
        {"kind": "pdf_text", "text": "anchor", "media_ref": None, "offset": 3},
    ]
    docs = [{"doc_id": "tie-0", "spans": spans}]
    expected, _ = oracle.extract_corpus(docs)
    rows = [("tie-0", [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in spans])]
    df = spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)
    got = collect_spans(pipeline.extract_documents(df, engine=engine))
    assert got == expected
    # the tie group really is ordered by the crc32 key, not input order
    tie_kinds = [s for s in expected["tie-0"] if s[3] >= 1]
    keys = [oracle.span_tiebreak(k, t, m) for k, t, m, _ in tie_kinds]
    assert keys == sorted(keys)


# the reference's request-parameter space (first_page/last_page ×
# OcrPipeline) over the same adversarial spans: the page-range array
# filter, the restricted renumbering, and each converter chain must agree
# with the oracle on payloads the corpus generator never emits
_PARAMS = [
    dict(first_page=2, last_page=3, ocr_pipeline="hybrid"),
    dict(first_page=1, last_page=1, ocr_pipeline="fast"),
    dict(first_page=3, last_page=None, ocr_pipeline="full"),
    dict(first_page=4, last_page=2, ocr_pipeline="hybrid"),  # empty range
]


@pytest.mark.parametrize("params", _PARAMS,
                         ids=["range-hybrid", "p1-fast", "open-full", "empty"])
@pytest.mark.parametrize("engine", ["sql", "arrow"])
def test_fuzz_param_space(spark, engine, params):
    docs = _random_docs(7)
    expected, _ = oracle.extract_corpus(docs, **params)
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]]) for d in docs]
    df = spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)
    got = collect_spans(pipeline.extract_documents(df, engine=engine, **params))
    assert got == expected
