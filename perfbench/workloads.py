"""The benchmark's three workloads: their inputs, operations and the
reference each operation's result is checked against.

- ``pages_flagship``: ``pipeline.pages_pipeline`` over a pages parquet
  table materialized from ``sources.pages``; checked against
  ``queries._pages_pipeline_sql(n)`` on DuckDB.
- ``iterative_ann_knn``: the registry leaves whose builders launch
  Spark jobs before the action (k-means training, kNN rounds).
- ``oneshot_query_mix``: the other ``bench.HEADLINE`` leaves.

The query workloads read the repository's test fixture tables (seed 42,
``TESTDATA.md``), vendored byte-identical under ``fixtures/`` (checked
against ``fixtures/SHA256SUMS``); the benchmark's seed never changes
them.

Query leaves with an oracle are checked against DuckDB running
``__spark_entry__.oracle_sql()`` over the same parquet files, with the
order-insensitive ``value_hash`` of ``tools/check_correctness.py``.
The rows-only ANN leaves are checked by row count, by each returned
similarity against the exact cosine, and by a recall floor against the
exact cosine top-k.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from typing import Callable

import numpy as np

FLAGSHIP = "pages_flagship"
ITERATIVE = "iterative_ann_knn"
ONESHOT = "oneshot_query_mix"
WORKLOADS = (FLAGSHIP, ITERATIVE, ONESHOT)

#: leaves whose builders run Spark jobs (training, kNN rounds) before
#: the action returns a DataFrame
ITERATIVE_LEAVES = (
    "ann_ivfpq_topk", "ann_pq_topk", "ann_ivf_topk", "ann_lsh_topk",
    "geo_knn_join", "geo_knn",
)
#: rows-only leaves (16 corpus queries x top-5) and their recall floor
#: against the exact cosine top-k, the query itself excluded: the 0.6
#: bar of tests/test_spark_operators.py. On the fixture the leaves
#: measured 0.750 (PQ), 0.613 (IVF-PQ) and 0.600 (IVF), the same at
#: local[2], local[4] and local[8]; every returned similarity is also
#: checked against the exact cosine.
RECALL_BAR = {"ann_pq_topk": 0.6, "ann_ivfpq_topk": 0.6, "ann_ivf_topk": 0.6}
ANN_QUERIES, ANN_K = 16, 5

PIPELINE_OP = "pages_pipeline"

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fixture_dir(sf: float) -> str:
    """The vendored fixture tables at scale factor ``sf``."""
    path = os.path.join(FIXTURES, f"sf{sf:g}")
    if not os.path.isdir(path):
        raise ValueError(f"no fixture tables for sf={sf:g} under {FIXTURES}")
    return path


def oneshot_leaves() -> list[str]:
    import bench

    return [n for n in bench.HEADLINE if n not in ITERATIVE_LEAVES]


def all_op_names() -> list[str]:
    return [PIPELINE_OP, *ITERATIVE_LEAVES, *oneshot_leaves()]


class QueryWorkload:
    """Registry leaves over the fixture tables at ``sf``, copied to
    ``<work>/tables`` so nothing a query writes beside its inputs
    outlives the run."""

    def __init__(self, leaves, sf: float, work: str, tamper=()):
        self.leaves = list(leaves)
        self.source = fixture_dir(sf)
        self.sf_dir = os.path.join(work, "tables")
        self.tamper = set(tamper)
        self._duck = None

    def materialize(self, spark) -> None:
        shutil.copytree(self.source, self.sf_dir)

    def configure(self, spark, cpus: int) -> None:
        pass

    def ops(self) -> dict[str, Callable]:
        from georeader_spark.queries import REGISTRY

        def op(fn):
            return lambda spark: fn(spark, self.sf_dir)

        return {name: op(REGISTRY[name][0]) for name in self.leaves}

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when ``rows`` is the right result of ``name``, else why not."""
        if name in RECALL_BAR:
            return self._check_recall(name, cols, rows)
        return self._check_oracle(name, cols, rows)

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            from tools.check_correctness import TABLES

            self._duck = duckdb.connect()
            for t in TABLES:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')")
        return self._duck

    def _check_oracle(self, name, cols, rows):
        import __spark_entry__

        rel = self._duckdb().sql(__spark_entry__.oracle_sql()[name])
        return compare_to_oracle(rel, cols, rows, name in self.tamper)

    def _check_recall(self, name, cols, rows):
        want = ANN_QUERIES * ANN_K
        if len(rows) != want:
            return f"{len(rows)} rows != {want}"
        import pandas as pd

        emb = pd.read_parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        ids = emb["vec_id"].to_numpy()
        x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        exact = set()
        for q in range(ANN_QUERIES):
            sims = x @ x[ids == q][0]
            cand = sorted((-s, int(v)) for s, v in zip(sims, ids) if v != q)
            exact.update((q, v) for _, v in cand[:ANN_K])
        pos = {int(v): i for i, v in enumerate(ids)}
        qi, vi = cols.index("q_id"), cols.index("vec_id")
        si = cols.index("sim") if "sim" in cols else cols.index("cos_sim")
        for r in rows:
            true = float(x[pos[int(r[qi])]] @ x[pos[int(r[vi])]])
            if abs(r[si] - true) > 1e-6:
                return f"sim {r[si]} of ({r[qi]}, {r[vi]}) != exact {true:.9f}"
        approx = {(int(r[qi]), int(r[vi])) for r in rows}
        recall = len(exact & approx) / len(exact)
        bar = 2.0 if name in self.tamper else RECALL_BAR[name]
        return None if recall >= bar else f"recall {recall:.3f} < {bar}"


class FlagshipWorkload:
    """``pages_pipeline`` passes over ``n_pages`` materialized pages.

    The seed fixes the page-to-file layout: each page goes to a file,
    and to a position in it, by a seeded hash of its url."""

    def __init__(self, n_pages: int, seed: int, work: str, cpus: int, tamper=()):
        self.n_pages = n_pages
        self.seed = seed
        self.path = os.path.join(work, "pages.parquet")
        self.n_files = 4 * cpus
        self.tamper = set(tamper)

    def materialize(self, spark) -> None:
        from pyspark.sql import functions as F

        from georeader_spark.sources.pages import pages

        key = F.xxhash64("url", F.lit(self.seed))
        (pages(spark, self.n_pages)
         .withColumn("_k", key)
         .repartitionByRange(self.n_files, "_k")
         .sortWithinPartitions("_k")
         .drop("_k")
         .write.mode("overwrite").parquet(self.path))

    def configure(self, spark, cpus: int) -> None:
        import bench

        for k, v in bench._scan_conf(self.path, cpus).items():
            spark.conf.set(k, v)

    def ops(self) -> dict[str, Callable]:
        from georeader_spark.pipeline import pages_pipeline

        def op(spark):
            return pages_pipeline(
                spark, pages_df=spark.read.parquet(self.path), repartition=False)

        return {PIPELINE_OP: op}

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        import duckdb

        from georeader_spark.queries import _pages_pipeline_sql

        rel = duckdb.sql(_pages_pipeline_sql(self.n_pages))
        return compare_to_oracle(rel, cols, rows, name in self.tamper)

    def close(self) -> None:
        pass


def compare_to_oracle(rel, cols: list[str], rows: list[tuple],
                      tampered: bool) -> str | None:
    """None when ``rows`` equal the DuckDB relation ``rel`` as an
    order-insensitive multiset (``value_hash``), else why not.
    ``tampered`` replaces the expected hash (self-test hook)."""
    from tools.check_correctness import value_hash

    d_cols = [c.lower() for c in rel.columns]
    d_rows = rel.fetchall()
    if sorted(d_cols) != sorted(cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    if len(d_rows) != len(rows):
        return f"{len(rows)} rows != oracle {len(d_rows)}"
    expected = "0" * 32 if tampered else value_hash(d_rows, d_cols)
    got = value_hash(rows, cols)
    return None if got == expected else f"value_hash {got} != oracle {expected}"


def make(name: str, seed: int, work: str, cpus: int, sf: float, n_pages: int,
         tamper=()):
    if name == FLAGSHIP:
        return FlagshipWorkload(n_pages, seed, work, cpus, tamper)
    leaves = ITERATIVE_LEAVES if name == ITERATIVE else oneshot_leaves()
    return QueryWorkload(leaves, sf, work, tamper)


def round_orders(names: list[str], seed: int):
    """Endless seeded sequence of rounds; each round runs every
    operation once, in a fresh seeded order."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def kernel_micro(reps: int = 5) -> dict[str, float]:
    """Per-row microseconds of direct calls into the kernels behind the
    workloads' Python stages, on fixed inputs (median of ``reps``)."""
    import duckdb

    from georeader_spark.kernels import media as kmedia
    from georeader_spark.kernels import text as ktext
    from georeader_spark.operators.multimodal import _md5_pixels
    from georeader_spark.sources.pages import pages_sql

    html = [h.encode() for (h,) in duckdb.sql(
        f"SELECT html FROM ({pages_sql(500)}) ORDER BY id").fetchall()]
    docs = [t for (t,) in duckdb.sql(
        f"SELECT text FROM read_parquet('{fixture_dir(0.001)}/documents.parquet') "
        "ORDER BY doc_id LIMIT 200").fetchall()]
    ppm = [kmedia.encode_ppm(_md5_pixels(i, 64, 64)) for i in range(32)]

    def extract(h):
        ktext.extract_text(h)
        ktext.extract_geotag(h)

    cases = {
        "kernels.text_extract_us_per_page": (extract, html),
        "kernels.minhash_signature_us_per_row": (
            lambda t: ktext.minhash_signature(t, 16, 3), docs),
        "kernels.simhash64_us_per_row": (ktext.simhash64, docs),
        "kernels.decode_ppm_us_per_row": (kmedia.decode_ppm, ppm),
    }
    out = {}
    for metric, (fn, rows) in cases.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for r in rows:
                fn(r)
            times.append((time.perf_counter() - t0) / len(rows) * 1e6)
        out[metric] = float(np.median(times))
    return out
