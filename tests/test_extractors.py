"""Golden byte-identical extraction tests (the BASELINE.json per-row invariant).

Three layers:
 1. oracle vs template ground truth, all archetypes (pure Python);
 2. the crawl's fused fetch+extract pass vs oracle, byte-for-byte;
 3. generated `text` column == jsoup_text(html) (the text contract).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dmp_crawler_spark.corpus import generator, templates
from dmp_crawler_spark.extractors import oracle, udfs
from dmp_crawler_spark.extractors.htmlmini import jsoup_text

N = 3000


@pytest.mark.parametrize("arch", templates.ARCHETYPES)
def test_oracle_matches_ground_truth(arch):
    checked = 0
    for i in range(600):
        if templates.archetype_for(i) != arch:
            continue
        p = templates.build_page(i, N)
        rows = oracle.extract(p["url"], p["html"].decode("utf-8"))
        gt = p["fields"]
        exp_rows = gt["rows"] if "rows" in gt else [gt]
        assert len(rows) == len(exp_rows), f"{arch} idx={i}"
        for r, e in zip(rows, exp_rows):
            exp_cols = {k: v for k, v in e.items() if k != "rowkey"}
            if "rowkey" in e:
                assert r["rowkey"] == e["rowkey"], f"{arch} idx={i}"
            assert r["cols"] == exp_cols, f"{arch} idx={i}"
        checked += 1
    assert checked >= 10


def test_text_column_is_jsoup_text():
    for i in range(120):
        p = templates.build_page(i, N)
        if p["archetype"] == "json_api":
            assert p["text"] == ""
        else:
            assert p["text"] == jsoup_text(p["html"].decode("utf-8"))


def _fused_pass(pages):
    """The crawl's fetch+extract pass over a materialized pages table."""
    return udfs.fetch_extract_pass(
        pages.withColumn("depth", F.lit(0)),
        ["url", "depth"],
        lambda row: (udfs._decode(row["html"]), row["lang"], row["text"]),
    )


def test_spark_extract_matches_oracle(spark):
    pages = generator.generate_pages(spark, 300, partitions=4).cache()
    got = {
        (r["url"], r["rowkey"]): (r["family"], dict(r["cols"]))
        for r in _fused_pass(pages).filter(F.col("kind") == "result").collect()
    }
    exp = {}
    for r in pages.select("url", "html").collect():
        for row in oracle.extract(r["url"], bytes(r["html"]).decode("utf-8")):
            exp[(r["url"], row["rowkey"])] = (row["family"], row["cols"])
    assert got == exp
    assert len(got) > 100


def test_spark_link_discovery(spark):
    pages = generator.generate_pages(spark, 200, partitions=4)
    out = _fused_pass(pages)
    assert "html" not in out.columns
    found = {
        r["out_url"]
        for r in out.filter(F.col("kind") == "link").select("out_url").collect()
    }
    exp = {u for i in range(200) for u in templates.outlinks_for(i, 200)}
    assert exp and exp <= found


def test_pages_schema_matches_input_hint(spark):
    df = generator.generate_pages(spark, 10, partitions=2)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
        ("text", "string"), ("lang", "string"),
    ]
