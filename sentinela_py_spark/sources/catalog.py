"""City-catalog dimension source (S8) with tolerant shape coercion (M18).

Reference semantics: versioned JSON catalog `municipios_br_<v>.json`
loaded with alias-tolerant readers and a completeness gate
(``record_count >= 5000`` — city_matching/catalog.py:49,341-440);
coordinates accept several key spellings and bbox arrives either as a
mapping with synonym keys or a 4-sequence ``[west, south, east, north]``
(catalog.py:105-167). The HTTP refresh path (S9) stays a driver utility
writing parquet; the engine only ever sees this normalized dimension.

Spark architecture: one ``spark.read.json`` + a single coalescing
projection producing the fixed CITY_CATALOG schema, then the J5
state-capital self-join. The result is a ~5.6k-row broadcast dimension —
load once, broadcast everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MINIMUM_RECORD_COUNT = 5000


class IncompleteCatalogError(ValueError):
    """Catalog failed the completeness gate (reference catalog.py:264-268)."""


def load_city_catalog(
    spark: SparkSession,
    path: str,
    *,
    ensure_complete: bool = False,
    minimum_record_count: int = MINIMUM_RECORD_COUNT,
) -> DataFrame:
    """Read a catalog JSON (object-per-line or array file) and normalize
    to the engine's catalog shape: ibge_id/name/uf/region/coords/bbox/
    capital, with alias coalescing and tolerant float coercion."""
    raw = spark.read.option("multiLine", "true").json(path)
    cols = set(raw.columns)

    def opt(*names: str):
        present = [F.col(n) for n in names if n in cols]
        if not present:
            return F.lit(None)
        return F.coalesce(*present) if len(present) > 1 else present[0]

    lat = opt("latitude", "lat").cast("double")
    lon = opt("longitude", "lon", "lng").cast("double")

    bbox = _normalize_bbox(raw, cols)

    catalog = raw.select(
        opt("ibge_id", "id", "city_id").cast("string").alias("ibge_id"),
        opt("name", "nome").cast("string").alias("name"),
        opt("uf", "state_abbr").cast("string").alias("uf"),
        opt("region", "regiao").cast("string").alias("region"),
        F.when(lat.isNotNull() & lon.isNotNull(), F.struct(lat.alias("lat"), lon.alias("lon")))
        .otherwise(F.lit(None))
        .alias("coords"),
        bbox.alias("bbox"),
        F.coalesce(opt("capital").cast("boolean"), F.lit(False)).alias("capital"),
    ).filter(F.col("ibge_id").isNotNull() & F.col("name").isNotNull())

    # A8: dedupe by ibge_id (first wins), numeric-id order
    catalog = catalog.dropDuplicates(["ibge_id"]).orderBy(F.col("ibge_id").cast("long"))

    if ensure_complete:
        n = catalog.count()
        if n < minimum_record_count:
            raise IncompleteCatalogError(
                f"catalog at {path} has {n} records < required {minimum_record_count}"
            )
    return catalog


def _normalize_bbox(raw: DataFrame, cols: set[str]):
    """bbox from a mapping with key synonyms or a 4-seq [w, s, e, n]
    (reference catalog.py:129-167)."""
    null_bbox = F.lit(None).cast("struct<south:double,west:double,north:double,east:double>")
    if "bbox" not in cols:
        return null_bbox
    dtype = dict(raw.dtypes)["bbox"]
    if dtype.startswith("array"):
        b = F.col("bbox")
        return F.when(
            F.size(b) >= 4,
            F.struct(
                F.element_at(b, 2).cast("double").alias("south"),
                F.element_at(b, 1).cast("double").alias("west"),
                F.element_at(b, 4).cast("double").alias("north"),
                F.element_at(b, 3).cast("double").alias("east"),
            ),
        ).otherwise(null_bbox)
    if dtype.startswith("struct"):
        fields = {f.split(":")[0] for f in dtype[7:-1].split(",")}

        def pick(*names: str):
            present = [F.col(f"bbox.{n}") for n in names if n in fields]
            return (F.coalesce(*present) if len(present) > 1 else present[0]).cast(
                "double"
            ) if present else F.lit(None).cast("double")

        return F.struct(
            pick("south", "s", "min_lat").alias("south"),
            pick("west", "w", "min_lon").alias("west"),
            pick("north", "n", "max_lat").alias("north"),
            pick("east", "e", "max_lon").alias("east"),
        )
    if dtype == "string":
        # mixed shapes in one file collapse to a JSON string column; try
        # the mapping parse first, the 4-seq parse second (both null-safe)
        as_map = F.from_json(
            F.col("bbox"),
            "struct<south:double,west:double,north:double,east:double,"
            "s:double,w:double,n:double,e:double,"
            "min_lat:double,min_lon:double,max_lat:double,max_lon:double>",
        )
        as_seq = F.from_json(F.col("bbox"), "array<double>")

        def pick(*names: str):
            return F.coalesce(*[as_map[n] for n in names])

        mapped = F.struct(
            pick("south", "s", "min_lat").alias("south"),
            pick("west", "w", "min_lon").alias("west"),
            pick("north", "n", "max_lat").alias("north"),
            pick("east", "e", "max_lon").alias("east"),
        )
        seq = F.struct(
            F.element_at(as_seq, 2).alias("south"),
            F.element_at(as_seq, 1).alias("west"),
            F.element_at(as_seq, 4).alias("north"),
            F.element_at(as_seq, 3).alias("east"),
        )
        return (
            F.when(as_map.isNotNull() & pick("south", "s", "min_lat").isNotNull(), mapped)
            .when((as_seq.isNotNull()) & (F.size(as_seq) >= 4), seq)
            .otherwise(null_bbox)
        )
    return null_bbox
