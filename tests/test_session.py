"""plans/session.py: the driver-heap default and ``local_frame``.

``local_frame`` replaces ``spark.createDataFrame(list, ddl)`` at every
driver-side relation of the package. It must be a drop-in: the same
schema and the same collected rows for each DDL the package passes it,
while its plan is a JVM ``LocalRelation``, not a Python RDD.
"""

import numpy as np
import pytest

from georeader_spark.plans import session
from georeader_spark.plans.session import local_frame

#: the DDL of every local_frame call site in georeader_spark/
PIP_COEFF_DDL = "_cover_cell long, poly_id int, " + ", ".join(
    f"_e{i}_ax double, _e{i}_ay double, _e{i}_dx double, _e{i}_dy double, "
    f"_e{i}_pad boolean"
    for i in range(4)
)
SITE_DDLS = [
    "_pass boolean",  # pipeline gate
    "_cover_cell long, poly_id int",  # pip_join cover
    PIP_COEFF_DDL,  # pip_join half-plane coefficients
    "dx long, dy long",  # knn_join offsets
    "q_id long, q_lon double, q_lat double, cell long",  # knn_ring rings
    "q_id long, q_lon double, q_lat double",  # knn_ring fallback
    "q_id int, lut array<array<double>>",  # PQ ADC luts
    "q_id int, list_id int, lut array<array<double>>",  # IVF-PQ luts
    "q_id int, q_lon double, q_lat double, q_cos double",  # q_knn_bruteforce
    "q_id int, cell long, q_lon double, q_lat double, q_cos double",  # q_knn_ring
    "q_id int, point_id long, rank int",  # q_knn_ring results
    "x double, y double",  # q_griddata_exact corners
    "dst_trow long, dst_tcol long, dst_h int, dst_w int, "
    "src_col_off long, src_row_off long, src_w_width int, src_w_height int, "
    "tile_row long, tile_col long",  # reproject plan
    "dst_trow long, dst_tcol long, dst_h int, dst_w int, "
    "tile_row long, tile_col long",  # blur plan
    "_hot_key bigint",  # salted join hot keys (key type varies)
    "_hot_key string",
    "wavelength_nm double, irradiance double",  # irradiance LUT
]


def _value(type_name: str, i: int):
    return {
        "boolean": i % 2 == 0,
        "int": i - 3,
        "bigint": (1 << 40) + i,
        "double": i / 3.0 - 1.0,
        "string": f"k{i}",
        "array<array<double>>": [[i + 0.5, -1.0], [], [2.0 * i]],
    }[type_name]


def _rows(schema, n: int = 5):
    """n full rows, then a row with every cell None and, for arrays,
    a row with None inside the nesting."""
    types = [f.dataType.simpleString() for f in schema.fields]
    rows = [tuple(_value(t, i) for t in types) for i in range(n)]
    rows.append(tuple(None for _ in types))
    if "array<array<double>>" in types:
        rows.append(tuple(
            [[None, 1.0], None] if t == "array<array<double>>" else _value(t, 9)
            for t in types
        ))
    return rows


def _same(spark, rows, ddl, expected_rows=None):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(
        rows if expected_rows is None else expected_rows, ddl
    )
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


@pytest.mark.parametrize("ddl", SITE_DDLS)
def test_matches_create_dataframe(spark, ddl):
    from pyspark.sql.types import _parse_datatype_string

    df = _same(spark, _rows(_parse_datatype_string(ddl)), ddl)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


@pytest.mark.parametrize("ddl", SITE_DDLS)
def test_empty_rows(spark, ddl):
    assert _same(spark, [], ddl).count() == 0


def test_numpy_scalars(spark):
    """numpy scalars (and 1-d arrays as inner lists) convert like the
    Python values they hold; createDataFrame rejects numpy ints."""
    ddl = "q_id int, cell long, q_lon double, lut array<array<double>>"
    rows = [(np.int32(i), np.int64((1 << 40) + i), np.float64(i / 7.0),
             [np.array([1.5, i], dtype=np.float64)]) for i in range(4)]
    plain = [(int(a), int(b), float(c), [[float(x) for x in d[0]]])
             for a, b, c, d in rows]
    _same(spark, rows, ddl, expected_rows=plain)


def test_driver_memory_follows_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    assert session.default_driver_memory() == "7g"


@pytest.mark.parametrize(
    "ram_bytes,heap",
    [
        (128 * 2**30, "48g"),  # 3/8 of a 128 GiB box
        (int(15.7 * 2**30), "5g"),  # floor(5.89)
        (2 * 2**30, "1g"),  # never below 1g
    ],
)
def test_driver_memory_default_is_three_eighths_of_ram(monkeypatch, ram_bytes, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == heap
