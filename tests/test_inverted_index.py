"""Inverted index + boolean search (operators/index.py)."""

import pytest
from pyspark.sql import functions as F

from georeader_spark.operators.index import (
    build_inverted_index, postings_digest, search_and)


@pytest.fixture(scope="module")
def idx(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "cat and dog and cat"),
        ],
        "doc_id long, text string",
    )
    return build_inverted_index(docs).persist()


def test_postings_structure(idx):
    rows = {r.term: r for r in idx.collect()}
    # df counts documents, not occurrences
    assert rows["the"].df == 2 and rows["the"].n_positions == 3
    # positions are 1-based token indexes, sorted; postings doc-sorted
    cat = rows["cat"]
    assert [(p.doc, list(p.positions)) for p in cat.postings] == [
        (1, [2]), (3, [1, 5])
    ]
    the = rows["the"]
    assert [(p.doc, list(p.positions)) for p in the.postings] == [
        (1, [1, 5]), (2, [1])
    ]


def test_search_and(spark, idx):
    hits = sorted(r.doc for r in search_and(idx, ["cat", "sat"]).collect())
    assert hits == [1]
    hits = sorted(r.doc for r in search_and(idx, ["the"]).collect())
    assert hits == [1, 2]
    # a term absent from the index -> no document can match
    assert search_and(idx, ["cat", "zebra"]).count() == 0
    with pytest.raises(ValueError):
        search_and(idx, [])


def test_max_df_drops_stopword_class(spark):
    docs = spark.createDataFrame(
        [(i, "the filler%d" % i) for i in range(5)],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs, max_df=3)
    terms = {r.term for r in idx.collect()}
    assert "the" not in terms and "filler0" in terms


def test_digest_matches_duckdb(spark, sf_dir):
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        tuple(r)
        for r in postings_digest(build_inverted_index(docs)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    ref = sorted(tuple(r) for r in con.sql(r"""
WITH tk AS (
  SELECT doc_id AS doc,
         unnest(list_transform(string_split_regex(lower(trim(text)), '\s+'),
                               (x, i) -> struct_pack(term := x, pos := i))) AS tp
  FROM documents),
flat AS (SELECT doc, tp.term AS term, CAST(tp.pos AS BIGINT) AS pos
         FROM tk WHERE tp.term != ''),
pd AS (SELECT term, doc, list_sort(list(pos)) AS positions
       FROM flat GROUP BY 1, 2)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(len(positions)) AS BIGINT) AS n_positions,
       md5(string_agg(CAST(doc AS VARCHAR) || ':' ||
           array_to_string(list_transform(positions, x -> CAST(x AS VARCHAR)),
                           ','), ';' ORDER BY doc)) AS postings_md5
FROM pd GROUP BY term
""").fetchall())
    assert got == ref


def test_search_phrase(spark, idx):
    from georeader_spark.operators.index import search_phrase

    # docs: 1="the cat sat on the mat", 2="the dog sat", 3="cat and dog and cat"
    got = {r.doc: r.n_matches
           for r in search_phrase(idx, ["the", "cat"]).collect()}
    assert got == {1: 1}
    # phrase crossing repeated words
    got = {r.doc: r.n_matches
           for r in search_phrase(idx, ["and", "cat"]).collect()}
    assert got == {3: 1}
    # adjacent-only: "cat dog" never adjacent
    assert search_phrase(idx, ["cat", "dog"]).count() == 0
    # repeated term in the phrase
    got = {r.doc: r.n_matches
           for r in search_phrase(idx, ["the", "cat", "sat"]).collect()}
    assert got == {1: 1}
    with pytest.raises(ValueError):
        search_phrase(idx, [])


def test_bm25_closed_form(spark, idx):
    import math

    from georeader_spark.operators.index import doc_lengths, score_bm25

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "cat and dog and cat"),
        ],
        "doc_id long, text string",
    )
    dls = doc_lengths(docs)
    assert {r.doc: r.dl for r in dls.collect()} == {1: 6, 2: 3, 3: 5}
    got = {r.doc: r.score for r in score_bm25(idx, dls, ["cat"]).collect()}
    n, avgdl = 3, (6 + 3 + 5) / 3
    idf = math.log((n - 2 + 0.5) / (2 + 0.5) + 1)

    def bm(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert got[1] == pytest.approx(round(bm(1, 6), 6), abs=2e-6)
    assert got[3] == pytest.approx(round(bm(2, 5), 6), abs=2e-6)
    assert 2 not in got  # no 'cat' in doc 2
    # tf dominance: doc 3 (tf=2, shorter) outranks doc 1 (tf=1)
    assert got[3] > got[1]
    # multi-term sums per-term contributions
    both = {r.doc: r.score
            for r in score_bm25(idx, dls, ["cat", "dog"]).collect()}
    assert set(both) == {1, 2, 3}
    with pytest.raises(ValueError):
        score_bm25(idx, dls, [])


def test_bm25_term_list_is_sorted_in_plan(spark, idx):
    """The plan's ``term IN (...)`` list is the sorted, lower-cased,
    de-duplicated terms, whatever order (and PYTHONHASHSEED) the
    caller's set iteration would give: plan-text fingerprints stay
    stable across processes."""
    import re

    from georeader_spark.operators.index import doc_lengths, score_bm25

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat")],
        "doc_id long, text string",
    )
    out = score_bm25(idx, doc_lengths(docs), ["sat", "Dog", "mat", "cat", "dog"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lists = re.findall(r"term#\d+ IN \(([^)]*)\)", plan)
    assert lists == ["cat,dog,mat,sat"], plan
