"""SURT canonicalization + CDX capture index (functions/url.py)."""

import pytest
from pyspark.sql import functions as F

from georeader_spark.functions.url import cdx_records, cdxj_lines, surt_col
from georeader_spark.sources.pages import pages
from georeader_spark.sources.warc import _walk_records, parse_warc, warc_files


SURT_CASES = [
    ("https://www.News.Example.com/a/b?z=1&a=2", "com,example,news)/a/b?a=2&z=1"),
    ("http://example.com/", "com,example)/"),
    # non-default port kept, www<digits> stripped
    ("http://www2.foo.example.com:8080/x?b=2", "com,example,foo:8080)/x?b=2"),
    # default ports dropped (scheme-aware)
    ("https://example.com:443/p", "com,example)/p"),
    ("http://example.com:80/p", "com,example)/p"),
    ("https://example.com:80/p", "com,example:80)/p"),
    ("http://site00262.example/page/0000002", "example,site00262)/page/0000002"),
]


def test_surt_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES], "url string")
    got = [r.k for r in df.select(surt_col(F.col("url")).alias("k")).collect()]
    assert got == [k for _, k in SURT_CASES]


@pytest.fixture(scope="module")
def cdx(spark):
    p = pages(spark, 150)
    files = warc_files(p, records_per_file=25)
    return cdx_records(parse_warc(files)).persist(), files


def test_cdx_offsets_tile_the_file(cdx):
    rows, _ = cdx
    per_file = {}
    for r in rows.collect():
        per_file.setdefault(r.file_id, []).append((r.offset, r.length))
    for fid, offs in per_file.items():
        offs.sort()
        for (o1, l1), (o2, _) in zip(offs, offs[1:]):
            assert o2 == o1 + l1  # records tile: offset_{k+1}=offset_k+len_k


def test_cdx_offset_slice_reparses(cdx):
    rows, files = cdx
    j = rows.join(files, "file_id").limit(5).collect()
    for r in j:
        buf = bytes(r.content)[r.offset : r.offset + r.length]
        fields, _, start, length = next(_walk_records(buf))
        assert start == 0 and length == r.length
        assert fields["warc-target-uri"] == r.url


def test_cdxj_globally_sorted_disjoint_shards(spark, cdx):
    rows, _ = cdx
    lines = cdxj_lines(rows, n_shards=4)
    parts = lines.rdd.glom().collect()
    parts = [p for p in parts if p]
    # sorted within each shard
    for p in parts:
        keys = [r.line.split(" ", 2)[:2] for r in p]
        assert keys == sorted(keys)
    # shard key ranges are mutually disjoint (range partitioning)
    bounds = sorted(
        (p[0].line.split(" ", 2)[:2], p[-1].line.split(" ", 2)[:2])
        for p in parts
    )
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo
    # and the shard plan really is range partitioning
    plan = lines._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_cdxj_line_shape(cdx):
    rows, _ = cdx
    line = cdxj_lines(rows, n_shards=2).limit(1).collect()[0].line
    key, ts, js = line.split(" ", 2)
    assert key.startswith("example,site")
    assert len(ts) == 14 and ts.isdigit()
    import json

    d = json.loads(js)
    assert set(d) == {"url", "mime", "status", "digest", "length",
                      "offset", "filename"}
    assert d["filename"].endswith(".warc")
