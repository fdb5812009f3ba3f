"""Gazetteer resolution + disambiguation of city mentions.

Reference semantics: name-index lookup (sentinela/extraction/
gazetteer.py:36-82), contextual disambiguation with an ambiguous-surface
whitelist and fixed confidence constants (sentinela/extraction/
disambiguation.py:33-166), deterministic city patterns
(gazetteer.py:85-107).

Spark architecture (J1/J4 in SURVEY.md §2.3): the catalog's name+alt_names
variants become a broadcast index DataFrame; mentions left-join it on the
normalized surface and candidates are collected per mention, after which
every disambiguation rule is pure column algebra over the candidate array
(filter/size/exists) — no Python in the per-row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


CONFIDENCE_RESOLVED = 0.95  # reference disambiguation.py:41
CONFIDENCE_AMBIGUOUS = 0.5  # disambiguation.py:42
CONFIDENCE_UNKNOWN_UF = 0.4  # disambiguation.py:43
CONFIDENCE_FOREIGN = 0.2  # disambiguation.py:44

# Surfaces that need an explicit UF signal before resolving
# (disambiguation.py:33-39).
AMBIGUOUS_SURFACES: dict[str, tuple[str, ...]] = {
    "natal": ("RN",),
    "esperanca": ("PB",),
    "palmas": ("TO",),
}

CANDIDATE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("city_id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("uf", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
)


def build_name_index(spark: SparkSession, catalog_entries) -> DataFrame:
    """(norm_key, city_id, name, uf) — one row per name/alt_name variant.

    Normalization is lowercase + whitespace collapse only (the gazetteer
    does NOT accent-fold — reference gazetteer.py:46-48)."""
    rows = []
    for e in catalog_entries:
        ibge_id = e.get("ibge_id") or e.get("id")
        name = e.get("name")
        if not ibge_id or not name:
            continue
        variants = {str(name)}
        alt = e.get("alt_names") or ()
        variants.update(str(a) for a in alt)
        for v in variants:
            key = " ".join(v.lower().split())
            if key:
                rows.append((key, str(ibge_id), str(name), e.get("uf")))
    schema = "norm_key string, city_id string, name string, uf string"
    return spark.createDataFrame(rows, schema=schema)


def _norm_surface_col(surface: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(surface), r"\s+", " "))


# Accent fold as pure column algebra (translate → lower → collapse): stays
# inside whole-stage codegen instead of a per-row Python UDF. The char map
# covers the Latin-1/Portuguese range the gazetteer's whitelist keys use —
# the exact domain the Python strip_accents (NFKD) fold was applied to.
_ACCENT_SRC = "áàâãäåéèêëíìîïóòôõöúùûüçñýÁÀÂÃÄÅÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑÝ"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuucnyAAAAAAEEEEIIIIOOOOOUUUUCNY"
assert len(_ACCENT_SRC) == len(_ACCENT_DST)


def _ascii_fold(surface: Column) -> Column:
    return F.trim(
        F.regexp_replace(F.lower(F.translate(surface, _ACCENT_SRC, _ACCENT_DST)), r"\s+", " ")
    )


def resolve_mentions(
    mentions: DataFrame,
    name_index: DataFrame,
) -> DataFrame:
    """Resolve each mention row against the gazetteer.

    Input: one row per mention with a unique ``mention_id``, ``surface``,
    optional ``uf_surface`` and ``context_states`` array<string>.
    Output adds: ``city_id``, ``status`` (resolved | ambiguous |
    unknown_uf | foreign), ``confidence``, ``candidates`` (each with
    score = 1/|candidates|), ``method`` = 'gazetteer'.
    """
    m = mentions.withColumn("_key", _norm_surface_col(F.col("surface")))

    # Broadcast equi-join on normalized name; candidates collected per
    # mention, sorted by city_id for cross-partition determinism.
    joined = m.join(F.broadcast(name_index), m._key == name_index.norm_key, "left")
    grouped = joined.groupBy(*[F.col(f"`{c}`") for c in mentions.columns], F.col("_key")).agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("city_id").isNotNull(),
                    F.struct(F.col("city_id"), F.col("name"), F.col("uf")),
                )
            )
        ).alias("_cands")
    )

    uf_surface = F.upper(F.col("uf_surface")) if "uf_surface" in mentions.columns else F.lit(None).cast("string")
    context = (
        F.transform(F.coalesce(F.col("context_states"), F.array()), lambda s: F.upper(s))
        if "context_states" in mentions.columns
        else F.array().cast("array<string>")
    )

    cands = F.col("_cands")
    # Stage 1 — explicit UF on the surface (Cidade-UF): keep matching UF;
    # if none match → unknown_uf with the unfiltered list.
    uf_matched = F.filter(cands, lambda c: F.upper(c["uf"]) == uf_surface)
    uf_missing = uf_surface.isNotNull() & (F.size(uf_matched) == 0) & (F.size(cands) > 0)
    after_uf = F.when(uf_surface.isNotNull() & (F.size(uf_matched) > 0), uf_matched).otherwise(cands)

    # Stage 2 — context states narrow multi-candidate sets.
    ctx_matched = F.filter(after_uf, lambda c: F.array_contains(context, F.upper(c["uf"])))
    after_ctx = F.when(
        (F.size(after_uf) > 1) & (F.size(context) > 0) & (F.size(ctx_matched) > 0), ctx_matched
    ).otherwise(after_uf)

    # Stage 3 — ambiguous-surface whitelist: a lone candidate still needs a
    # UF signal when its surface is on the list.
    df = grouped.withColumn("_skey", _ascii_fold(F.col("surface")))
    wl_states = F.lit(None).cast("array<string>")
    for key, states in AMBIGUOUS_SURFACES.items():
        wl_states = F.when(F.col("_skey") == key, F.array(*[F.lit(s) for s in states])).otherwise(
            wl_states
        )
    df = df.withColumn("_wl", wl_states)

    # try_element_at: `sole` is only *referenced* under size-guarded CASE
    # branches (lazy), but the try_ variant keeps it NULL-safe even if an
    # optimizer rewrite ever evaluated it eagerly on an empty-candidate row
    # (ANSI element_at throws on out-of-bounds).
    sole = F.try_element_at(after_ctx, F.lit(1))
    reliable = (
        F.col("_wl").isNull()
        | (uf_surface.isNotNull() & F.array_contains(F.col("_wl"), uf_surface))
        | F.array_contains(context, F.upper(sole["uf"]))
        | F.exists(F.col("_wl"), lambda s: F.array_contains(context, F.upper(s)))
    )

    status = (
        F.when(F.size(cands) == 0, "foreign")
        .when(uf_missing, "unknown_uf")
        .when((F.size(after_ctx) == 1) & reliable, "resolved")
        .when(F.size(after_ctx) == 1, "unknown_uf")
        .otherwise("ambiguous")
    )
    confidence = (
        F.when(status == "resolved", CONFIDENCE_RESOLVED)
        .when(status == "ambiguous", CONFIDENCE_AMBIGUOUS)
        .when(status == "unknown_uf", CONFIDENCE_UNKNOWN_UF)
        .otherwise(CONFIDENCE_FOREIGN)
    )
    # Candidate payload mirrors the reference: the post-UF-filter list with
    # uniform weight 1/n (disambiguation.py:56-63).
    reported = F.when(uf_missing, cands).otherwise(after_ctx)
    weighted = F.transform(
        reported,
        lambda c: F.struct(
            c["city_id"].alias("city_id"),
            c["name"].alias("name"),
            c["uf"].alias("uf"),
            (F.lit(1.0) / F.size(reported)).alias("score"),
        ),
    )
    resolved_id = F.when(status == "resolved", sole["city_id"]).otherwise(F.lit(None))

    return (
        df.withColumn("status", status)
        .withColumn("confidence", confidence)
        .withColumn("candidates", weighted)
        .withColumn("resolved_city_id", resolved_id)
        .withColumn("method", F.lit("gazetteer"))
        .drop("_key", "_cands", "_skey", "_wl")
    )
