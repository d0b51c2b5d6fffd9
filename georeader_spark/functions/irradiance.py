"""Solar spectral irradiance LUT as a broadcast table.

The reference packages the Thuillier (2003) irradiance spectrum as a
CSV and convolves it with band SRFs to get per-band E_sun
(/root/reference/georeader/reflectance.py:590+); round 1 hardcoded a
single scalar (1361.0) instead — this module supplies the missing
broadcast-LUT machinery.

``irradiance_table``: loads a (wavelength_nm, irradiance) table — from
a CSV path in production (the published Thuillier/ASTM G-173 data), or
the built-in coarse table below for tests/oracles. The built-in values
are integer-valued doubles in mW/m^2/nm at 10 nm steps, approximating
the visible-range solar curve; integer values make every downstream
SUM exact and order-independent (the engine/oracle hash-identity rule,
see kernels/text.py notes).

``band_esun``: SRF-weighted mean irradiance per band — one broadcast
join + groupBy, the distributed twin of reflectance.py's numpy
convolution. Weights are snapped to 1e-6 (integer-valued doubles) so
the weighted sums are exact in any engine.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.session import local_frame
from .reflectance import srf_gaussian_weight, srf_gaussian_weight_sql

#: (wavelength nm, irradiance mW/m^2/nm) — coarse public solar curve,
#: integer-valued for exact cross-engine sums.
BUILTIN_LUT: List[Tuple[float, float]] = [
    (400.0, 1700.0), (410.0, 1750.0), (420.0, 1747.0), (430.0, 1639.0),
    (440.0, 1810.0), (450.0, 2006.0), (460.0, 2066.0), (470.0, 2033.0),
    (480.0, 2074.0), (490.0, 1950.0), (500.0, 1942.0), (510.0, 1882.0),
    (520.0, 1833.0), (530.0, 1842.0), (540.0, 1783.0), (550.0, 1725.0),
    (560.0, 1695.0), (570.0, 1712.0), (580.0, 1715.0), (590.0, 1700.0),
    (600.0, 1666.0), (610.0, 1635.0), (620.0, 1602.0), (630.0, 1570.0),
    (640.0, 1544.0), (650.0, 1511.0), (660.0, 1486.0), (670.0, 1456.0),
    (680.0, 1427.0), (690.0, 1402.0), (700.0, 1369.0),
]


def irradiance_table(spark: SparkSession, csv_path: str | None = None) -> DataFrame:
    """(wavelength_nm double, irradiance double). Small by construction
    — always broadcast it into joins."""
    if csv_path is not None:
        return (
            spark.read.option("header", "true").csv(csv_path)
            .select(
                F.col("wavelength_nm").cast("double"),
                F.col("irradiance").cast("double"),
            )
        )
    return local_frame(
        spark, BUILTIN_LUT, "wavelength_nm double, irradiance double"
    )


def band_esun(
    lut: DataFrame, bands: List[Tuple[str, float, float]]
) -> DataFrame:
    """Per-band E_sun: SRF(Gaussian center/fwhm)-weighted mean of the
    LUT. ``bands``: (name, center_nm, fwhm_nm). Returns
    (band string, esun double). Weights snapped to 1e-6 so the sums are
    exact (integer-valued doubles) — bit-identical across engines."""
    parts = []
    for name, center, fwhm in bands:
        w = srf_gaussian_weight(F.col("wavelength_nm"), center, fwhm)
        w6 = F.floor(w * F.lit(1e6) + F.lit(0.5))
        parts.append(
            lut.select(
                F.lit(name).alias("band"),
                w6.alias("w6"),
                (w6 * F.col("irradiance")).alias("wi"),
            )
        )
    allw = parts[0]
    for p in parts[1:]:
        allw = allw.unionByName(p)
    return allw.groupBy("band").agg(
        (F.sum("wi") / F.sum("w6")).alias("esun")
    )


def band_esun_sql(bands: List[Tuple[str, float, float]]) -> str:
    """DuckDB CTE body computing the identical per-band E_sun from the
    builtin LUT (VALUES list)."""
    values = ", ".join(f"({wl!r}, {irr!r})" for wl, irr in BUILTIN_LUT)
    selects = []
    for name, center, fwhm in bands:
        w = srf_gaussian_weight_sql("wavelength_nm", center, fwhm)
        selects.append(
            f"SELECT '{name}' AS band, FLOOR({w} * 1e6 + 0.5) AS w6, "
            f"FLOOR({w} * 1e6 + 0.5) * irradiance AS wi FROM lut"
        )
    union = " UNION ALL ".join(selects)
    return (
        f"lut(wavelength_nm, irradiance) AS (VALUES {values}), "
        f"allw AS ({union}), "
        f"esun_t AS (SELECT band, SUM(wi) / SUM(w6) AS esun FROM allw GROUP BY band)"
    )
