"""Inverted text index + boolean search.

The search-engine half of a corpus platform: term → posting list
(document id + token positions), document frequencies, and conjunctive
(AND) retrieval by posting-list intersection. Everything is DataFrame
algebra — the index IS a DataFrame, storable as a term-bucketed table.

Scale shape (100 TB corpus):
- build is explode + two groupBys with map-side partials; the wide
  shuffle moves ``(term, doc, position)`` triples once. Stopword-class
  hot terms cost one partial row per partition at the (term, doc)
  stage; the final per-term aggregate concentrates a hot term's
  postings on one reducer — exactly the posting list a search engine
  must materialize anyway. Cap or drop ultra-high-df terms with
  ``max_df`` (they carry no retrieval signal), and the skew is gone.
- the stored index buckets by term: an AND query reads only its
  terms' buckets (partition pruning on the term column), intersects
  doc arrays JVM-side (``array_intersect``), and never touches
  documents.
- positions make phrase queries possible downstream; they add one
  int per token to the single wide shuffle, nothing else.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

TOKEN_SPLIT = r"\s+"


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Docs → ``(term, df, n_positions, postings)``.

    ``postings`` is an array of ``struct(doc, positions array<int>)``
    sorted by doc id; positions are 1-based token indexes, sorted.
    ``max_df`` drops terms appearing in more than that many documents
    (stopword-class terms; at corpus scale they are pure skew with no
    retrieval value — the drop is an explicit, logged design cap, not
    a silent one: count them via the returned df column upstream).
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT)
        ).alias("pos0", "term"),
    ).where(F.col("term") != "")
    per_doc = toks.groupBy("term", "doc").agg(
        F.array_sort(F.collect_list(F.col("pos0") + 1)).alias("positions")
    )
    idx = per_doc.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum(F.size("positions")).alias("n_positions"),
        F.array_sort(
            F.collect_list(F.struct("doc", "positions"))
        ).alias("postings"),
    )
    if max_df is not None:
        idx = idx.where(F.col("df") <= max_df)
    return idx


def postings_digest(idx: DataFrame) -> DataFrame:
    """Canonical serialization + md5 per term — the oracle/golden form:
    ``doc:pos,pos;doc:pos,...`` over the doc-sorted postings."""
    ser = F.array_join(
        F.transform(
            F.col("postings"),
            lambda p: F.concat_ws(
                ":",
                p["doc"].cast("string"),
                F.array_join(
                    F.transform(p["positions"], lambda x: x.cast("string")),
                    ",",
                ),
            ),
        ),
        ";",
    )
    return idx.select(
        "term", "df", "n_positions",
        F.md5(F.encode(ser, "UTF-8")).alias("postings_md5"),
    )


def search_and(idx: DataFrame, terms: list[str]) -> DataFrame:
    """Conjunctive retrieval: documents containing ALL ``terms``.

    Reads only the query terms' index rows (partition-prunable filter
    on the term column), intersects doc-id arrays JVM-side, returns
    ``(doc)`` rows. No document data is touched.
    """
    if not terms:
        raise ValueError("search_and needs at least one term")
    rows = (
        idx.where(F.col("term").isin([t.lower() for t in terms]))
        .select("term", F.transform("postings", lambda p: p["doc"]).alias("docs"))
    )
    agg = rows.agg(
        F.count("*").alias("n_terms"),
        F.aggregate(
            F.collect_list("docs"),
            F.lit(None).cast("array<long>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.array_intersect(acc, x)
            ),
        ).alias("docs"),
    )
    # all query terms must exist in the index, else no document has all
    hits = agg.select(
        F.when(F.col("n_terms") == len(set(t.lower() for t in terms)),
               F.col("docs"))
        .otherwise(F.array().cast("array<long>"))
        .alias("docs")
    )
    return hits.select(F.explode("docs").alias("doc"))


def search_phrase(idx: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact phrase retrieval via the positional index.

    A document matches iff some position ``p`` has ``phrase[i]`` at
    ``p + i`` for every i — computed by shifting each term's position
    list by ``-i`` and intersecting (``array_intersect`` fold), the
    classic positional-postings algorithm. Repeated words in the
    phrase are handled (each slot pulls its own shifted copy of the
    term's postings). Index rows touched: exactly the phrase's terms.

    Returns ``(doc, n_matches)`` — documents containing the phrase and
    how many starting positions match.
    """
    if not phrase:
        raise ValueError("search_phrase needs at least one term")
    k = len(phrase)

    def _shift(col, off: int):
        # NB: a single-arg lambda closing over `off` — a two-arg lambda
        # would be read by transform() as (element, array_index)
        return F.transform(col, lambda x: x - F.lit(off))

    parts = []
    for i, t in enumerate(phrase):
        p = (
            idx.where(F.col("term") == t.lower())
            .select(F.explode("postings").alias("pp"))
            .select(
                F.col("pp.doc").alias("doc"),
                _shift(F.col("pp.positions"), i).alias("shifted"),
                F.lit(i).alias("slot"),
            )
        )
        parts.append(p)
    u = reduce(lambda a, b: a.unionByName(b), parts)
    agg = u.groupBy("doc").agg(
        F.count_distinct("slot").alias("n_slots"),
        F.aggregate(
            F.collect_list("shifted"),
            F.lit(None).cast("array<long>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.array_intersect(acc, x)
            ),
        ).alias("starts"),
    )
    return (
        agg.where((F.col("n_slots") == k) & (F.size("starts") > 0))
        .select("doc", F.size("starts").cast("long").alias("n_matches"))
    )


def doc_lengths(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, dl) token counts — the BM25 length normalizer; one
    narrow map, no shuffle."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.size(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT),
                lambda x: x != "",
            )
        ).cast("long").alias("dl"),
    )


def score_bm25(
    idx: DataFrame,
    dls: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    digits: int = 6,
) -> DataFrame:
    """Okapi BM25 ranked retrieval (Robertson/Spärck Jones):

        score(D,Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|D|/avgdl))
        idf(t)     = ln( (N - df + 0.5)/(df + 0.5) + 1 )

    Disjunctive: any document containing at least one query term
    scores. Index rows touched: the query's terms only (partition-
    prunable); tf = positions length from the positional postings; N
    and avgdl are two scalars from one tiny aggregate. The per-doc
    sum is a map-side-partial groupBy over |terms| · df rows — the
    documents themselves are never read. The doc-lengths join is a
    plain shuffle join on ``doc`` (``dls`` has one row per document,
    so it cannot broadcast at corpus scale; the hits side is bounded
    by Σ df of the query terms and AQE will broadcast it when small).

    Returns ``(doc, score)`` with score rounded to ``digits``.
    """
    if not terms:
        raise ValueError("score_bm25 needs at least one term")
    n_docs, avgdl = dls.agg(
        F.count("*"), F.avg("dl")
    ).first()
    # sorted: the plan's IN list must not follow PYTHONHASHSEED
    tl = sorted({t.lower() for t in terms})
    hits = (
        idx.where(F.col("term").isin(tl))
        .select("term", "df", F.explode("postings").alias("pp"))
        .select(
            "term", "df",
            F.col("pp.doc").alias("doc"),
            F.size("pp.positions").cast("double").alias("tf"),
        )
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = hits.join(dls, "doc").select(
        "doc",
        (
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
            )
        ).alias("s"),
    )
    return scored.groupBy("doc").agg(
        F.round(F.sum("s"), digits).alias("score")
    )
