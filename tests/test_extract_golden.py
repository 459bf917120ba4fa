"""Golden byte-identity for the extraction pipeline (the north rule's
per-row invariant) + negative fixtures + plan-quality checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.extract import normalize
from ocr_spark.extract.pipeline import extract_one, extract_pages
from ocr_spark.fixtures import gen_corpus, golden_df, pages_df

N_DOCS = 200


@pytest.fixture(scope="module")
def extracted(spark):
    out = extract_pages(pages_df(spark, N_DOCS)).join(
        golden_df(spark, N_DOCS), "url"
    )
    out = out.persist()
    yield out
    out.unpersist()


def test_byte_identity_all_branches(extracted):
    rows = extracted.select(
        "url",
        "branch",
        "golden_branch",
        (F.col("extracted_text") == F.col("golden_text")).alias("match"),
        (F.col("n_blocks_kept") == F.col("golden_n_blocks")).alias("blocks_match"),
    ).collect()
    assert len(rows) == N_DOCS
    mismatches = [r for r in rows if not (r.match and r.blocks_match and r.branch == r.golden_branch)]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_all_branches_exercised(extracted):
    branches = {r.branch for r in extracted.select("branch").distinct().collect()}
    assert {"html", "pdf", "text"} <= branches


def test_no_error_rows(extracted):
    assert extracted.filter(F.col("error").isNotNull()).count() == 0


def test_normalizer_idempotent():
    for r in gen_corpus(50).itertuples():
        once = normalize.assemble([r.golden_text.decode("utf-8")])
        assert normalize.assemble([once.decode("utf-8")]) == once


def test_negative_tag_soup_best_effort():
    soup = b"<html><head><title>x</title><body><p>good text " + b"\xff\xfe" + b" more words here to pass the length threshold for keeping</p><div<<>broken"
    data, n_kept, branch = extract_one(soup, None)
    assert branch == "html"  # degraded, never crashed


def test_negative_corrupt_spdf_is_row_error(spark):
    import pandas as pd

    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://bad.example/1"],
                "warc_ts": [None],
                "html": [b"%SPDF1\n\x00"],
                "text": [None],
                "lang": [""],
            }
        ),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rows = extract_pages(pages).collect()
    assert rows[0].branch == "error"
    assert "SPDF" in rows[0].error


def test_empty_row():
    data, n_kept, branch = extract_one(None, None)
    assert (data, n_kept, branch) == (b"", 0, "empty")


def test_plan_is_arrow_vectorized(spark):
    """No per-row Python anywhere on the hot path (BASELINE.json
    input_hint): the physical plan must not contain BatchEvalPython."""
    plan = extract_pages(pages_df(spark, 10))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


def test_duplicate_urls_fail_fast(spark):
    from ocr_spark.operators.lineage import assert_unique_urls

    pages = pages_df(spark, 20)
    dup = pages.unionAll(pages.limit(1))
    with pytest.raises(ValueError, match="duplicate url"):
        assert_unique_urls(dup)


def test_fast_scanner_equivalence_corpus():
    """The fast tokenizer must produce the identical Block list as the
    stdlib html.parser path over the whole fixture corpus (all branches,
    encodings, skew tail)."""
    from ocr_spark.extract import dom
    from ocr_spark.fixtures import gen_corpus

    pdf = gen_corpus(600)
    for h in pdf["html"]:
        if h is None:
            continue
        assert dom.parse_blocks(bytes(h)) == dom.parse_blocks_fast(bytes(h))


def test_fast_scanner_equivalence_fuzz():
    """Randomized tag-soup differential fuzz: stdlib parser == fast
    tokenizer on arbitrary '<'-ridden garbage. The examples are tags
    whose '/' before '>' belongs to a bare attribute value, so stdlib
    opens them rather than self-closing them."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from ocr_spark.extract import dom

    frag = st.sampled_from(
        ["<p>", "</p>", "<div class='x>y'>", "</div>", "<h1>", "</h1>", "<a>",
         "</a>", "<script>", "</script>", "<style>", "</style>", "<!-- c -->",
         "<br/>", "<br />", "<", ">", "&amp;", "&lt;", "&#65;", "&bogus;", "text ",
         "日本語", "<P>", "</ P>", "</>", "<!doctype html>", "<?pi?>", "x<y",
         "<img src='a>b'/>", "\n  ", "<td>", "</td>", "<li>", "</li>",
         "<![CDATA[x]]>", "<!weird>", "</p junk>", "<p/q>", "<a href=x>", "=",
         "/", "<div foo", "<!--", "-->", "</script x>", "<sCrIpT>", "</ScRiPt>",
         "\x00", "&", "&#", "&#x41;", "&amp", ";", "<div a='", "'>", "< /td>",
         "<br//>", "</p >", "</scrip", "t>", "]]>", "<!>", "?>", "</sCRipt >"]
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(frag, max_size=25))
    @example(["<div foo", "=", "<br/>", "<"])
    @example(["<p>", "<a href=http://x.example/>", "text ", "</a>", "</p>"])
    def check(parts):
        raw = "".join(parts).encode("utf-8")
        assert dom.parse_blocks(raw) == dom.parse_blocks_fast(raw)

    check()


def test_extract_one_never_raises_fuzz():
    """extract_one must degrade, never raise, on arbitrary byte garbage
    (including %SPDF-prefixed junk that fails layout decoding) — the
    MustFail analogue is a row-level error, not a task failure."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_spark.extract.pdfbranch import MAGIC
    from ocr_spark.extract.pipeline import extract_one

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=400), st.booleans())
    def check(raw, as_pdf):
        payload = MAGIC + raw if as_pdf else raw
        try:
            out, n, branch = extract_one(payload, None)
        except Exception as e:  # pdf decode of junk MAY raise -> row error upstream
            assert as_pdf, f"html branch raised on garbage: {e!r}"
            return
        assert isinstance(out, bytes)
        assert n >= 0

    check()


def test_langid_accuracy_on_fixture_corpus(spark):
    """The n-gram language-ID must identify >=95% of fixture pages whose
    extracted text carries the language signal (pdf-branch pages render
    a-z0-9 glyphs only, so they are excluded)."""
    from pyspark.sql import functions as F

    from ocr_spark.extract.pipeline import extract_pages
    from ocr_spark.fixtures import pages_df
    from ocr_spark.functions.text import lang_id_ngram

    pages = pages_df(spark, 800)
    out = extract_pages(pages).join(pages.select("url", "lang"), "url")
    scored = (
        out.filter(F.col("branch").isin("html", "text"))
        .filter(F.col("lang").isin("en", "de", "fr", "ja", "zh", "ru", "ar"))
        .select(
            "lang",
            lang_id_ngram(F.decode("extracted_text", "utf-8")).alias("guess"),
        )
    )
    row = scored.agg(
        F.avg((F.col("lang") == F.col("guess")).cast("double")).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert row.n > 400
    assert row.acc >= 0.95, f"lang-ID accuracy {row.acc:.3f}"
