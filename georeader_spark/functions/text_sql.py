"""JVM-side text extraction — the extract stage of the flagship pipeline.

The same extraction spec as kernels.text.extract_text (drop
script/style with content, strip tags, unescape the five standard
entities in fixed order, collapse whitespace, trim) expressed as a
chain of built-in regexp/replace functions: whole-stage codegen, no
Arrow transfer, no Python workers. Measured ~25-100x faster and far
more stable than an Arrow UDF over the same kernel (see BENCH notes).

Semantics note: Java's ``\\s`` is ASCII-only while Python's is
Unicode-aware. The synthetic corpus contains only ASCII whitespace, and
the byte-identity tests (kernel oracle == text, and JVM expr == text on
every page, tests/test_spark_pages.py) pin the equivalence; a corpus
with exotic whitespace would need Unicode-aware patterns here.

Reference recipe being re-expressed: GeoTensor.load_bytes-style
bytes->value decode (/root/reference/georeader/geotensor.py:2165-2214)
+ the input_hint's byte-identical text invariant.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: entity unescapes in kernel order (amp last)
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]

_GEO_RE = r'<meta\s+name="geo\.position"\s+content="(-?\d+(?:\.\d+)?);(-?\d+(?:\.\d+)?)"'


def extract_text_col(html: Column) -> Column:
    """html binary -> extracted text, byte-equal to
    kernels.text.extract_text on ASCII-whitespace corpora."""
    s = F.decode(html, "UTF-8")
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1>", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def _geotag_match(html: Column) -> Column:
    """Group-0 geotag match. lon and lat both derive from this IDENTICAL
    subtree, so whole-stage codegen's subexpression elimination runs the
    full-html regex ONCE per row; the per-field split is substring_index
    over the ~40-char match (the previous group-1/group-2 extracts were
    distinct expressions and scanned the html twice — measured ~0.7 s
    per pass over 4M pages at local[32])."""
    s = F.decode(html, "UTF-8")
    return F.regexp_extract(s, _GEO_RE, 0)


def geotag_lon_col(html: Column) -> Column:
    g = _geotag_match(html)
    # match shape: <meta ... content="LAT;LON"  -> LON between ';' and '"'
    lon = F.substring_index(F.substring_index(g, ";", -1), '"', 1)
    return F.when(g == "", F.lit(None).cast("double")).otherwise(
        lon.cast("double")
    )


def geotag_lat_col(html: Column) -> Column:
    g = _geotag_match(html)
    lat = F.substring_index(F.substring_index(g, 'content="', -1), ";", 1)
    return F.when(g == "", F.lit(None).cast("double")).otherwise(
        lat.cast("double")
    )
