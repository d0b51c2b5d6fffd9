"""Deduplication operators for web-scale corpora (task brief: exact,
MinHash+LSH, SimHash, n-gram Jaccard; embedding near-dup lives in
similarity.py).

Scale notes (100 TB design):
- exact dedup is one shuffle on a 16-byte key (md5), partial-agg
  friendly; never shuffles document bodies — only (hash, id).
- MinHash signatures are computed in one Arrow-batched pass; LSH bands
  become ``(band_id, band_hash)`` keys — the self-join happens on
  band buckets, so only near-duplicate candidates ever pair up.
  Banding keeps the join fan-out bounded; hot buckets (boilerplate)
  are capped with a per-bucket limit to avoid quadratic blowup.
- SimHash joins on (band of bit-prefix) with Hamming refine.

Engine-independence: all hashes derive from md5 (available in Spark,
DuckDB, Python) so the DuckDB oracle can recompute identical
signatures; see kernels/text.py.
"""

from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..kernels import text as ktext


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by md5(text): returns one row per
    duplicated hash with the canonical (min) id, member count and ids.
    """
    h = F.md5(F.col(text_col)).alias("text_md5")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def exact_dedup_keep_first(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus after exact dedup: keep the min-id row per md5(text)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig array<long>) MinHash signatures via Arrow-batched UDF
    over the shared kernel (kernels/text.py minhash_signature)."""

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: ktext.minhash_signature(t or "", num_perm, shingle_k)
        )

    return docs.select(F.col(id_col), sig_udf(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    num_perm rows split into ``bands`` bands of rows_per_band rows;
    docs sharing any full band collide. ``bucket_cap`` guards against
    boilerplate mega-buckets (the dropped mass is logged by the caller
    via lineage metrics — no silent cap at scale without metrics).
    """
    banded = _minhash_banded(docs, id_col, text_col, num_perm, bands, shingle_k)

    w = Window.partitionBy("band", "bucket").orderBy(F.col(id_col).asc())
    capped = banded.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= bucket_cap
    )
    a = capped.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a")
    )
    b = capped.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_bucket_overflow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    bucket_cap: int = 1000,
) -> DataFrame:
    """The dropped-mass metric for ``minhash_lsh_pairs``'s bucket_cap:
    one row per overflowing (band, bucket) with member and dropped
    counts. Feed into StageStore lineage records so the cap is never a
    silent recall loss (a boilerplate mega-bucket at 100 TB can hold
    millions of docs; this is the signal to dedup it exactly instead)."""
    banded = _minhash_banded(docs, id_col, text_col, num_perm, bands, shingle_k)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > bucket_cap)
        .select(
            "band",
            "bucket",
            "n_members",
            (F.col("n_members") - F.lit(bucket_cap)).alias("n_dropped"),
        )
    )


def _minhash_banded(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
) -> DataFrame:
    """(id, band, bucket) banded-signature rows shared by the pair join
    and the overflow metric."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(docs, id_col, text_col, num_perm, shingle_k)
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.element_at("sig", b * rows_per_band + i + 1)
                                for i in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def simhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    allow_lossy: bool = False,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash with banded blocking + Hamming
    refine. Pigeonhole: a pair within Hamming distance d < n_bands must
    share at least one identical band, so blocking is lossless iff
    ``max_hamming < n_bands``. Larger radii need more bands (with
    correspondingly coarser buckets) or an explicit recall measurement —
    pass ``allow_lossy=True`` to opt into that, otherwise parameter
    combinations that silently lose recall raise."""
    if max_hamming >= n_bands and not allow_lossy:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands} breaks the "
            "pigeonhole losslessness guarantee; raise n_bands or pass "
            "allow_lossy=True and measure recall"
        )

    @F.pandas_udf(LongType())
    def simhash_udf(text: pd.Series) -> pd.Series:
        # map to signed int64 (Spark LongType): subtract 2^64 when >= 2^63
        def f(t):
            v = ktext.simhash64(t or "")
            return v - (1 << 64) if v >= (1 << 63) else v

        return text.map(f)

    # materialize the (id, simhash) signature table (16 B/doc) before
    # the self-join: both join sides otherwise re-evaluate the Python
    # simhash pass over the full corpus (the broadcast build side
    # cannot share an exchange with the probe side). The broadcast
    # job's evaluation pass persists the lazy checkpoint as a side
    # effect; at scale this is also the right shape — signatures are
    # computed once, documents are never rescanned for the join.
    sh = docs.select(
        F.col(id_col), simhash_udf(F.col(text_col)).alias("simhash")
    ).localCheckpoint(eager=False)
    band_width = 64 // n_bands
    mask = (1 << band_width) - 1
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bucket")

    a = banded.select(
        "band", "bucket", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a")
    )
    b = banded.select(
        "band", "bucket", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.4,
    bucket_cap: int = 1000,
) -> DataFrame:
    """The web-corpus dedup endgame as one composition: MinHash-LSH
    candidate pairs -> exact n-gram Jaccard verification computed ONLY
    on candidate pairs (the intersection join is routed through the
    candidate list, never all-pairs) -> connected components over the
    verified pair graph (the raster CCL's distributed min-label
    propagation, operators/vectorize._label_graph_components — the same
    O(log D)-round machinery labels duplicate clusters) -> one row per
    cluster: canonical (min) id, size, sorted members.

    Scale shape: candidates bound every downstream cost; the component
    graph is O(verified pairs), orders below corpus size, so the CC
    loop's shuffles are tiny. No stage ever moves document bodies —
    only (id, shingle-hash) and (id, id) rows."""
    from .vectorize import _label_graph_components

    cand = minhash_lsh_pairs(
        docs, id_col, text_col, num_perm, bands, shingle_k, bucket_cap
    )

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    sh = F.when(
        n >= shingle_k,
        F.transform(
            F.sequence(F.lit(0), n - shingle_k),
            lambda i: F.array_join(F.slice(toks, i + 1, shingle_k), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    shingled = docs.select(
        F.col(id_col), F.array_distinct(sh).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))
    ex = shingled.select(id_col, "n_sh", F.explode("shingles").alias("shingle"))

    with_a = cand.join(
        ex.select(
            F.col(id_col).alias("id_a"),
            F.col("n_sh").alias("n_a"),
            "shingle",
        ),
        "id_a",
    )
    inter = (
        with_a.join(
            ex.select(
                F.col(id_col).alias("id_b"),
                F.col("n_sh").alias("n_b"),
                "shingle",
            ),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    verified = inter.where(jac >= jaccard_threshold).select("id_a", "id_b")

    sym = verified.select(
        F.col("id_a").alias("la"), F.col("id_b").alias("lb")
    ).unionByName(
        verified.select(F.col("id_b").alias("la"), F.col("id_a").alias("lb"))
    )
    comp = _label_graph_components(sym)
    return (
        comp.groupBy("comp")
        .agg(
            F.count("*").alias("n_members"),
            F.sort_array(F.collect_list("label")).alias("member_ids"),
        )
        .select(
            F.col("comp").alias("cluster_id"), "n_members", "member_ids"
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram (k-word shingle) Jaccard similarity pairs — fully
    declarative (explode shingles -> equi-join -> count algebra):

        J(a, b) = |A ∩ B| / (|A| + |B| - |A ∩ B|)

    No UDF: shingle generation uses transform() over a split() array.
    Quadratic in shingle-collision groups; intended for within-bucket
    verification after LSH at scale (or small corpora directly).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # k-word shingles via transform over start indices
    sh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    shingled = docs.select(
        F.col(id_col), F.array_distinct(sh).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))

    exploded = shingled.select(
        id_col, "n_sh", F.explode("shingles").alias("shingle")
    )
    a = exploded.select(
        F.col("shingle"),
        F.col(id_col).alias("id_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = exploded.select(
        F.col("shingle"),
        F.col(id_col).alias("id_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr criterion: a char
# n-gram that occurs more than once anywhere in the corpus marks its
# span as duplicated). The suffix-array construction of the paper is a
# single-machine algorithm; the distributed re-expression is the
# L-gram inverted shuffle below — same dup-span answer for spans
# >= L, one groupBy wide of all-pairs-free.
# ---------------------------------------------------------------------------

def _dup_islands(
    docs: DataFrame, id_col: str, text_col: str, length: int, hashed: bool,
    keep_first: bool = False,
):
    """Shared core: (base docs with gram counts, merged dup islands).

    base = ``(id_col, _t, n_grams)``; islands = one row per maximal
    duplicated interval ``(id_col, n_grams, s, e, n_marks)``.

    ``keep_first=True`` exempts the globally-first occurrence of each
    duplicated gram (total order: ``(id_col, pos)``) from marking —
    the keep-one-canonical-copy policy. Costs one extra aggregate
    column (a ``min`` over the same groupBy that already counts
    occurrences), not an extra shuffle.
    """
    n_grams_c = F.greatest(
        F.lit(0), F.length(F.col(text_col)) - F.lit(length - 1)
    )
    base = docs.select(
        F.col(id_col), F.col(text_col).alias("_t"), n_grams_c.alias("n_grams")
    )
    gram = F.substring(F.col("_t"), F.col("pos"), length)
    key = F.xxhash64(gram) if hashed else gram
    grams = (
        base.where(F.col("n_grams") > 0)
        .select(
            id_col, "n_grams",
            F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
            F.col("_t"),
        )
        .select(id_col, "n_grams", "pos", key.alias("g"))
    )
    # corpus-wide gram multiplicity (map-side partial agg, 8-byte
    # keys). The min-(id, pos) struct is aggregated under BOTH
    # policies so the counts subtree is canonically identical across
    # them: a query running stats, removal and keep-first removal over
    # the same corpus (q_text_stats) then computes the gram explode +
    # count shuffle ONCE (ReusedExchange) instead of per policy — the
    # default policy simply never reads ``_first``.
    counts = grams.groupBy("g").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
        .alias("_first"),
    )
    dup = grams.join(counts.where(F.col("n_occ") > 1), "g")
    if keep_first:
        dup = dup.where(
            ~(
                (F.col(id_col) == F.col("_first.i"))
                & (F.col("pos") == F.col("_first.p"))
            )
        )
    dup = dup.select(
        id_col, "n_grams", "pos",
        (F.col("pos") + F.lit(length - 1)).alias("end"),
    )
    # gaps-and-islands merge of overlapping [pos, end] intervals
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    islands = marked.groupBy(id_col, "n_grams", "island").agg(
        F.min("pos").alias("s"), F.max("end").alias("e"),
        F.count("*").alias("n_marks"),
    )
    return base, islands


def duplicated_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 40,
    hashed: bool = True,
) -> DataFrame:
    """Per-document duplicated-substring statistics.

    Every char ``length``-gram of every document is emitted as
    ``(gram, doc, pos)``; a gram whose corpus-wide occurrence count
    exceeds 1 (it appears in another document, or again in the same
    one — the paper's criterion) marks ``[pos, pos+length)`` as
    duplicated. Overlapping marked intervals merge
    per document (gaps-and-islands window, no UDF) into exact
    duplicated-char counts.

    Returns ``(id_col, n_grams, n_dup_grams, dup_chars, dup_ratio)``
    — ``dup_ratio`` = duplicated chars / total chars.

    Scale notes (100 TB):
    - the gram explode is the honest cost of the ExactSubstr
      criterion: ~|text| rows per doc, ONE wide shuffle on the gram
      key (the suffix-array sort of the paper, re-expressed). With
      ``hashed=True`` each gram travels as an 8-byte ``xxhash64``
      instead of ``length`` chars — a ``length``× shuffle-byte diet;
      collisions (p ~ n²/2⁶⁴) can only over-mark a span, never miss
      one. ``hashed=False`` keeps raw grams for the DuckDB oracle
      twin; a pytest pins both paths to identical output.
    - the dup-gram decision is a partial-agg-friendly count;
      boilerplate grams (the hot keys) aggregate map-side before the
      shuffle, so a billion-copy footer costs one row per partition,
      not a hot reducer.
    - the interval merge windows by (doc, pos) — partition-local
      after one repartition on doc id, bounded by document length.
    """
    base, islands = _dup_islands(docs, id_col, text_col, length, hashed)
    per_doc = islands.groupBy(id_col, "n_grams").agg(
        (F.sum(F.col("e") - F.col("s") + 1)).alias("dup_chars"),
        F.sum("n_marks").alias("n_dup_grams"),
    )
    total_chars = F.col("n_grams") + F.lit(length - 1)
    out = base.select(id_col, "n_grams").join(per_doc, [id_col, "n_grams"], "left")
    return out.select(
        id_col,
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
        F.round(
            F.coalesce(F.col("dup_chars"), F.lit(0))
            / F.greatest(total_chars.cast("double"), F.lit(1.0)),
            6,
        ).alias("dup_ratio"),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 40,
    hashed: bool = True,
    out_col: str = "clean_text",
    keep_first: bool = False,
) -> DataFrame:
    """Cut duplicated spans out of every document (the removal half of
    the ExactSubstr pipeline: the paper's released tool cuts marked
    spans from the corpus after the criterion pass).

    Default policy: EVERY marked occurrence is removed
    (order-independent). ``keep_first=True`` keeps one canonical copy:
    the globally-first occurrence of each duplicated gram in
    ``(id_col, pos)`` order survives — the deterministic total order
    makes this distributable (one ``min`` aggregate riding the
    existing gram groupBy, no corpus serialization). Documents with no
    duplicated span pass through unchanged; under the default policy a
    document that is one big duplicated island comes back as ``''``.

    Mechanics: the merged islands (shared :func:`_dup_islands` core —
    same one-shuffle gram pass as :func:`duplicated_span_stats`) turn
    into KEPT segments via a lag window per document (segment k =
    text between island k-1's end and island k's start), concatenated
    in order with one groupBy — all JVM expressions, no UDF; per-doc
    work is bounded by document length.

    Returns ``(id_col, out_col)`` for every input document.
    """
    base, islands = _dup_islands(
        docs, id_col, text_col, length, hashed, keep_first=keep_first
    )
    w = Window.partitionBy(id_col).orderBy("s")
    segs = islands.withColumn(
        "seg_start", F.coalesce(F.lag("e").over(w) + 1, F.lit(1))
    )
    pieces = (
        segs.join(base, id_col)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "s",
                                F.substring(
                                    F.col("_t"), F.col("seg_start"),
                                    F.col("s") - F.col("seg_start"),
                                ).alias("seg"),
                            )
                        )
                    ),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("head"),
            F.max("e").alias("last_e"),
        )
    )
    out = base.join(pieces, id_col, "left")
    tail = F.substring(
        F.col("_t"), F.col("last_e") + 1,
        F.greatest(F.length("_t") - F.col("last_e"), F.lit(0)),
    )
    clean = F.when(F.col("last_e").isNull(), F.col("_t")).otherwise(
        F.concat(F.coalesce(F.col("head"), F.lit("")), tail)
    )
    return out.select(id_col, clean.alias(out_col))


def paragraph_dedup_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_words: int | None = None,
    sep: str = "\n\n",
) -> DataFrame:
    """CCNet-style corpus-level paragraph dedup, keep-first policy
    (Wenzek et al. 2019 §3.1 dedup the corpus at paragraph level;
    reference has no text ops — this is task-brief pipeline family).

    Every paragraph that occurs more than once in the corpus is
    removed EXCEPT its globally-first occurrence in ``(id, seg)``
    order; documents are rebuilt from their surviving paragraphs in
    original order. Returns one row per input document:
    ``(id_col, n_paras, pd_dropped, clean_text)``.

    Segmentation: ``para_words=None`` splits on the literal ``sep``
    (real corpora: blank-line paragraphs); ``para_words=k`` segments
    the whitespace token stream into fixed k-word windows (the
    single-line synthetic fixture) and rebuilds with single spaces.

    100 TB shape: paragraphs are hashed to 16-byte md5 BEFORE the
    winner-election shuffle, so the corpus-wide exchange carries
    (hash, id, seg) — never text (plan-pinned,
    tests/test_plans_and_streaming.py). The rebuild is ONE join of the
    corpus against a per-affected-doc array of dropped positions plus
    an array filter over the in-row paragraph split — no re-explode of
    the corpus, no semi/anti join pair, no union of changed and
    untouched branches (the former shape paid three extra exchanges
    and re-evaluated the interpreted paragraph-split HOFs per branch).
    At typical dup rates the dropped-positions table is tiny and
    broadcasts; at pathological rates it is (id)-keyed and joins
    shuffle-wise, which is then the right plan anyway.
    """
    import re as _re

    if para_words is None:
        paras_col = F.split(F.col(text_col), _re.escape(sep))
        join_sep = sep
    else:
        words = F.split(F.col(text_col), " ")
        n_segs = F.ceil(F.size(words) / F.lit(para_words)).cast("int")
        paras_col = F.transform(
            F.sequence(F.lit(0), n_segs - F.lit(1)),
            lambda i: F.array_join(
                F.slice(words, i * para_words + 1, para_words), " "
            ),
        )
        join_sep = " "

    segs = docs.select(
        F.col(id_col).alias("_id"), F.posexplode(paras_col).alias("_seg", "_para")
    )
    # winner election on the 16-byte digest only — text never shuffles
    hashed = segs.select("_id", "_seg", F.md5(F.col("_para")).alias("_ph"))
    w = Window.partitionBy("_ph").orderBy(F.col("_id").asc(), F.col("_seg").asc())
    drops = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select("_id", "_seg")
    )
    dropped = drops.groupBy("_id").agg(
        F.collect_list("_seg").alias("_drop_segs")
    )

    # rebuild with one left join + an index filter over the in-row
    # paragraph array: kept paragraphs stay in original order, a doc
    # whose EVERY paragraph was dropped filters to '' — identical
    # output to the former explode/semi/anti/union shape.
    out = docs.join(dropped, docs[id_col] == dropped["_id"], "left")
    untouched = F.col("_drop_segs").isNull()
    clean = F.when(untouched, F.col(text_col)).otherwise(
        F.array_join(
            F.filter(
                paras_col,
                lambda p, i: ~F.array_contains(F.col("_drop_segs"), i),
            ),
            join_sep,
        )
    )
    return out.select(
        F.col(id_col),
        F.size(paras_col).cast("int").alias("n_paras"),
        F.when(untouched, F.lit(0))
        .otherwise(F.size("_drop_segs"))
        .cast("int")
        .alias("pd_dropped"),
        clean.alias("clean_text"),
    )


def corpus_digests(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Digest table of a corpus: ``(text_md5, canonical_id)`` — one row
    per distinct text. This is the table an incremental ingestion
    pipeline persists (bucketed by text_md5 with Spark's ``bucketBy``)
    so every later crawl deduplicates against it without reshuffling
    it."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("canonical_id"))
    )


def dedup_against_reference(
    new_docs: DataFrame,
    ref_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ingestion dedup: drop every new document whose
    md5(text) already exists in the reference corpus digest table
    (``corpus_digests`` output) — the new-crawl-vs-corpus stage of a
    continuously-updated training set.

    100 TB shape: the digest is computed scan-side, the anti-join
    moves (16-byte hash) keys — never bodies; with the digest table
    bucketed by text_md5 at write time the recurring join co-locates
    (Spark's ``bucketBy`` table layout, zero exchange on the ref side).
    """
    hashed = new_docs.withColumn("_h", F.md5(F.col(text_col)))
    return (
        hashed.join(
            ref_digests.select(F.col("text_md5").alias("_h")),
            "_h",
            "left_anti",
        )
        .drop("_h")
    )
