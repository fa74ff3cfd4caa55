"""Wide-corpus robustness: every sf0.001 document, wrapped in varied page
templates (deterministically by doc_id), must extract without error."""

import pytest
from pyspark.sql import functions as F

from fetch_engines_spark.extract import extract_spans

TEMPLATES = [
    # article with chrome
    ("<html><head><title>Doc {i}</title></head><body>"
     "<nav class='site-nav'><a href='/a'>A</a><a href='/b'>B</a><a href='/c'>C</a></nav>"
     "<article><h1>Document {i}</h1><p>{text}</p></article>"
     "<footer class='site-footer'><p>footer chrome</p></footer></body></html>"),
    # docs layout, no semantic main
    ("<body><div class='wrap'><div class='sidebar'><nav>"
     "<a href='/1'>One</a><a href='/2'>Two</a><a href='/3'>Three</a><a href='/4'>Four</a></nav></div>"
     "<div class='docs-content'><h1>Doc {i}</h1><p>{text}</p></div></div></body>"),
    # bare content with image + list
    ("<body><main><h2>Doc {i}</h2><img src='/img/{i}.png' alt='figure {i}'>"
     "<p>{text}</p><ul><li>alpha</li><li>beta</li></ul></main></body>"),
    # table-bearing page
    ("<body><main><h1>Doc {i}</h1><table><tr><td><strong>K</strong></td><td><strong>V</strong></td></tr>"
     "<tr><td>id</td><td>{i}</td></tr></table><p>{text}</p></main></body>"),
]


def test_sf0001_corpus_extracts_clean(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tpl = F.element_at(
        F.array(*[F.lit(t) for t in TEMPLATES]),
        (F.col("doc_id") % len(TEMPLATES) + 1).cast("int"),
    )
    html = F.replace(
        F.replace(tpl, F.lit("{i}"), F.col("doc_id").cast("string")),
        F.lit("{text}"),
        F.col("text"),
    )
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(None).cast("string").alias("base_url"),
        F.lit(None).cast("string").alias("canonical_url"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    out = extract_spans(wrapped, num_partitions=8)
    stats = out.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errs"),
        F.sum(F.when(F.size("spans") > 0, 1).otherwise(0)).alias("nonempty"),
    ).collect()[0]
    assert stats.n == 500
    assert stats.errs == 0
    assert stats.nonempty == 500
    # spot-check: doc text survives, chrome does not
    sample = out.filter(F.col("doc_id") == "0").collect()[0]
    md = "\n\n".join(s.text for s in sample.spans)
    assert "footer chrome" not in md


@pytest.mark.parametrize(
    "html,expected",
    [
        ("<body><main><h1>标题</h1><p>中文内容，包含标点符号。足够长的正文保证被选中作为主要内容，继续填充一些字符。</p></main></body>", "中文内容"),
        ("<body><main><h1>Emoji 🚀 page</h1><p>Rockets 🚀 and ünïcödé text with enough words to be selected as the main content.</p></main></body>", "🚀"),
        ("<body><main><h1>RTL</h1><p>نص عربي طويل بما يكفي ليتم اختياره كمحتوى رئيسي للصفحة مع كلمات إضافية هنا.</p></main></body>", "نص عربي"),
        ("<body><main><h1>Bad &notanentity; ok</h1><p>Entity soup &amp; &#x1F600; &#128512; with enough text to keep this main selected.</p></main></body>", "😀"),
    ],
)
def test_unicode_pages(spark, html, expected):
    from fetch_engines_spark.extract import convert_document

    md = convert_document(html)[1]
    assert expected in md
