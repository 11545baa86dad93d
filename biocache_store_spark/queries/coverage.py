"""Driver-contract coverage queries for operators previously verified only
by unit tests: the sampling joins, attribution/classification enrichment,
expert-distribution outliers, maintenance rewrites, the parser families
(DMS coordinates, distances, fuzzy dates, grid references), the vocabulary
processor stages, the raw-vs-processed comparison, and the multimodal
decode plumbing.

Each query exercises the REAL operator/parser code path on inputs
synthesized deterministically from the driver tables, with a DuckDB oracle
that replays the expected semantics in ANSI SQL. Where a parser uses
fixed-point or hash arithmetic the oracle reproduces it exactly (integer
scaling for DMS, sha256 nibbles for the fake media decoder), so every
query is hash-checkable, not just row-count-checkable.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biocache_store_spark.io import read_table
from biocache_store_spark.queries import register
from biocache_store_spark.util import local_rows_df


def _apply_parser(df: DataFrame, in_col: str, out_fields: list, fn) -> DataFrame:
    """Run a Python parser over one string column in an Arrow-batched
    mapInPandas pass. `fn(value) -> tuple` must return one value per
    entry of `out_fields` ([(name, DataType), ...])."""
    from biocache_store_spark.util import (
        ensure_min_parallelism,
        ensure_package_on_workers,
    )

    ensure_package_on_workers(df.sparkSession)
    df = ensure_min_parallelism(df)
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, t) for n, t in out_fields]
    )
    names = [n for n, _ in out_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [fn(v) for v in pdf[in_col]]
            out = pdf.copy()
            for i, name in enumerate(names):
                out[name] = [r[i] for r in results]
            yield out

    return df.mapInPandas(run, schema=schema)


def _apply_record_parser(df: DataFrame, in_cols: list[str], out_fields: list, fn) -> DataFrame:
    """Like _apply_parser but the callable receives a dict of the input
    columns (for parser families that consume several raw fields, e.g. the
    event-date processor)."""
    from biocache_store_spark.util import (
        ensure_min_parallelism,
        ensure_package_on_workers,
    )

    ensure_package_on_workers(df.sparkSession)
    df = ensure_min_parallelism(df)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(n, t) for n, t in out_fields]
    )
    names = [n for n, _ in out_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [
                fn({c: (None if pd.isna(v) else v) for c, v in zip(in_cols, row)})
                for row in zip(*[pdf[c] for c in in_cols])
            ]
            out = pdf.copy()
            for i, name in enumerate(names):
                out[name] = [r[i] for r in results]
            yield out

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Spatial sampling + loc-table enrichment
# ---------------------------------------------------------------------------


@register(
    "sample_layers_enrich",
    doc=(
        "Full spatial-sampling pass (operators/sampling.py — "
        "tool/Sampling.scala:371-676 + caches/LocationDAO.scala): distinct "
        "points from customer-synthesized coordinates, intersected with two "
        "gridded el layers (integer-bin equi-join; el2 has coverage gaps to "
        "exercise the left join) and two polygon cl layers (broadcast "
        "ray-casting mapInPandas), then joined back onto records via "
        "enrich_records — the loc-table read path. Shuffle join on the "
        "coordinate key, no forced broadcast of the samples relation."
    ),
    oracle="""
        SELECT c_custkey AS record_id,
               CAST((-(c_custkey % 70) - 1) * 1000 + (c_custkey % 140) AS DOUBLE)
                 AS el1,
               CAST(CASE WHEN (c_custkey % 140) % 5 <> 0
                         THEN (-(c_custkey % 70) - 1) - (c_custkey % 140)
                    END AS DOUBLE) AS el2,
               CASE WHEN (c_custkey % 70) >= 35 THEN 'Southern band' END AS cl1,
               CASE WHEN (c_custkey % 140) >= 70 THEN 'East box' END AS cl2
        FROM customer
    """,
)
def sample_layers_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.sampling import (
        distinct_points,
        enrich_records,
        sample_points,
    )

    customer = read_table(spark, sf_dir, "customer")
    records = customer.select(
        F.col("c_custkey").alias("record_id"),
        (-F.pmod(F.col("c_custkey"), F.lit(70)).cast("double") - F.lit(0.5)).alias(
            "decimalLatitude"
        ),
        (F.pmod(F.col("c_custkey"), F.lit(140)).cast("double") + F.lit(0.5)).alias(
            "decimalLongitude"
        ),
    )
    bins = (
        records.select(
            F.floor(F.col("decimalLatitude")).cast("long").alias("lat_idx"),
            F.floor(F.col("decimalLongitude")).cast("long").alias("lon_idx"),
        )
        .distinct()
    )
    el1 = bins.select(
        F.lit("el1").alias("layerID"),
        (F.col("lat_idx") * 1000 + F.col("lon_idx")).cast("double").alias("value"),
        F.col("lat_idx").cast("double").alias("lat_bin"),
        F.col("lon_idx").cast("double").alias("lon_bin"),
    )
    el2 = bins.filter(F.pmod(F.col("lon_idx"), F.lit(5)) != 0).select(
        F.lit("el2").alias("layerID"),
        (F.col("lat_idx") - F.col("lon_idx")).cast("double").alias("value"),
        F.col("lat_idx").cast("double").alias("lat_bin"),
        F.col("lon_idx").cast("double").alias("lon_bin"),
    )
    cl_layers = local_rows_df(
        spark,
        "layerID string, name string, wkt string",
        [
            ("cl1", "Southern band", "POLYGON((0 -71, 140 -71, 140 -35, 0 -35, 0 -71))"),
            ("cl2", "East box", "POLYGON((70 -71, 140 -71, 140 0, 70 0, 70 -71))"),
        ],
    )
    pts = distinct_points(records)
    samples = sample_points(
        pts, cl_layers=cl_layers, el_layers=el1.unionByName(el2), resolution=1.0
    )
    enriched = enrich_records(records, samples)
    return enriched.select(
        "record_id",
        F.element_at(F.col("el"), "el1").alias("el1"),
        F.element_at(F.col("el"), "el2").alias("el2"),
        F.element_at(F.col("cl"), "cl1").alias("cl1"),
        F.element_at(F.col("cl"), "cl2").alias("cl2"),
    )


# ---------------------------------------------------------------------------
# Attribution enrichment
# ---------------------------------------------------------------------------


@register(
    "attribution_lookup",
    doc=(
        "Attribution broadcast-dim join (processors/enrichment.py "
        "enrich_attribution — processor/AttributionProcessor.scala:23-86 "
        "over caches/AttributionDAO.scala): orders-synthesized records "
        "against a nation-synthesized collectory dim; unknown "
        "dataResourceUids get the UNRECOGNISED assertion."
    ),
    oracle="""
        SELECT o_orderkey,
               n_name AS attr_dataResourceName,
               CASE WHEN n_name IS NOT NULL
                    THEN 'dp' || CAST(n_regionkey AS VARCHAR)
               END AS attr_dataProviderUid,
               n_name IS NULL AS unrecognised
        FROM orders LEFT JOIN nation ON n_nationkey = o_orderkey % 40
    """,
)
def attribution_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.enrichment import enrich_attribution

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(
            F.lit("dr"), F.pmod(F.col("o_orderkey"), F.lit(40)).cast("string")
        ).alias("dataResourceUid"),
    )
    nation = read_table(spark, sf_dir, "nation")
    dim = nation.select(
        F.concat(F.lit("dr"), F.col("n_nationkey").cast("string")).alias(
            "dataResourceUid"
        ),
        F.col("n_name").alias("dataResourceName"),
        F.concat(F.lit("dp"), F.col("n_regionkey").cast("string")).alias(
            "dataProviderUid"
        ),
        F.concat(F.lit("provider-"), F.col("n_regionkey").cast("string")).alias(
            "dataProviderName"
        ),
        F.array().cast("array<string>").alias("dataHubUid"),
    )
    out = enrich_attribution(orders, dim)
    return out.select(
        "o_orderkey",
        "attr_dataResourceName",
        F.when(
            F.col("attr_dataResourceName").isNotNull(), F.col("attr_dataProviderUid")
        ).alias("attr_dataProviderUid"),
        (F.element_at(F.col("assertions"), -1)["qa_status"] == 0).alias(
            "unrecognised"
        ),
    )


# ---------------------------------------------------------------------------
# Classification enrichment (name match + taxon-profile attrs + common name)
# ---------------------------------------------------------------------------


@register(
    "classification_enrich",
    doc=(
        "ClassificationProcessor as enrich_classification "
        "(processors/chain.py:293 — ClassificationProcessor.scala:152-305 + "
        "the vernacular/common-name lookup of caches/CommonNameDAO): the "
        "name-match ladder followed by the broadcast taxon-profile join "
        "pulling rank, lft/rgt intervals, and the vernacular name."
    ),
    oracle="""
        WITH words AS (
            SELECT p_partkey, p_brand,
                   string_split(p_name, ' ')[1] || ' ' ||
                   string_split(p_name, ' ')[2] AS nm
            FROM part
        ),
        dim AS (
            SELECT nm, p_brand AS kingdom, MIN(p_partkey) AS lsid
            FROM words GROUP BY nm, p_brand
        )
        SELECT w.p_partkey,
               't' || CAST(d.lsid AS VARCHAR) AS matched_taxonConceptID,
               'vn-' || CAST(d.lsid AS VARCHAR) AS matched_vernacularName,
               'species' AS matched_taxonRank,
               d.lsid AS matched_lft
        FROM words w JOIN dim d ON w.nm = d.nm AND w.p_brand = d.kingdom
    """,
)
def classification_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.chain import enrich_classification

    part = read_table(spark, sf_dir, "part")
    nm = F.concat_ws(
        " ",
        F.element_at(F.split(F.col("p_name"), " "), 1),
        F.element_at(F.split(F.col("p_name"), " "), 2),
    )
    words = part.select("p_partkey", "p_brand", nm.alias("nm"))
    taxa = (
        words.groupBy("nm", "p_brand")
        .agg(F.min("p_partkey").alias("lsid"))
        .select(
            F.concat(F.lit("t"), F.col("lsid").cast("string")).alias(
                "taxonConceptID"
            ),
            F.col("nm").alias("scientificName"),
            F.col("p_brand").alias("kingdom"),
            F.lit("species").alias("taxonRank"),
            F.col("lsid").alias("lft"),
            (F.col("lsid") + 1).alias("rgt"),
            F.concat(F.lit("vn-"), F.col("lsid").cast("string")).alias(
                "vernacularName"
            ),
        )
    )
    records = words.select(
        "p_partkey",
        F.col("nm").alias("scientificName"),
        F.col("p_brand").alias("kingdom"),
    )
    out = enrich_classification(records, taxa)
    return out.select(
        "p_partkey",
        "matched_taxonConceptID",
        "matched_vernacularName",
        "matched_taxonRank",
        "matched_lft",
    )


# ---------------------------------------------------------------------------
# Expert-distribution outliers
# ---------------------------------------------------------------------------


@register(
    "expert_outlier_flags",
    doc=(
        "Expert-distribution outlier join (operators/outlier_distribution.py "
        "find_outliers — tool/ExpertDistributionOutlierTool.scala:106-575): "
        "customer-synthesized occurrences against per-taxon rectangular "
        "expert ranges; records of taxa without a range are not tested. The "
        "oracle reproduces the equirectangular clamped-boundary distance "
        "with the operator's exact multiply order (the scaled rectangle is "
        "axis-aligned, so min segment distance = distance to the clamped "
        "boundary point)."
    ),
    oracle="""
        WITH rec AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS occurrence_id,
                   'taxon:' || CAST(c_custkey % 5 AS VARCHAR) AS taxon,
                   -CAST(c_custkey % 60 AS DOUBLE) - 0.5 AS lat,
                   CAST(c_custkey % 40 AS DOUBLE) + 110.25 AS lon,
                   -10.0 * ((c_custkey % 5) + 1) AS y1
            FROM customer
            WHERE c_custkey % 5 <> 4
        ),
        clamped AS (
            SELECT *,
                   LEAST(GREATEST(lon, 110.0), 135.0) AS cx,
                   LEAST(GREATEST(lat, y1), 0.0) AS cy,
                   cos(radians(lat)) AS cos_lat
            FROM rec
        )
        SELECT occurrence_id, taxon,
               (lon > 110.0 AND lon < 135.0 AND lat > y1 AND lat < 0.0)
                 AS in_range,
               CASE WHEN lon > 110.0 AND lon < 135.0 AND lat > y1 AND lat < 0.0
                    THEN 0.0
                    ELSE round(sqrt(pow(lon*111320.0*cos_lat
                                        - cx*111320.0*cos_lat, 2)
                                    + pow(lat*110540.0 - cy*110540.0, 2)), 1)
               END AS distance_outside_m
        FROM clamped
    """,
)
def expert_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.outlier_distribution import find_outliers

    customer = read_table(spark, sf_dir, "customer")
    records = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("occurrenceID"),
        F.concat(
            F.lit("taxon:"), F.pmod(F.col("c_custkey"), F.lit(5)).cast("string")
        ).alias("taxonConceptID"),
        (-F.pmod(F.col("c_custkey"), F.lit(60)).cast("double") - F.lit(0.5)).alias(
            "decimalLatitude"
        ),
        (F.pmod(F.col("c_custkey"), F.lit(40)).cast("double") + F.lit(110.25)).alias(
            "decimalLongitude"
        ),
    )
    dists = local_rows_df(
        spark,
        "taxonConceptID string, wkt string",
        [
            (
                f"taxon:{t}",
                f"POLYGON((110 {-10 * (t + 1)}, 135 {-10 * (t + 1)},"
                f" 135 0, 110 0, 110 {-10 * (t + 1)}))",
            )
            for t in range(4)
        ],
    )
    return find_outliers(records, dists).select(
        "occurrence_id",
        "taxon",
        "in_range",
        # the store keeps RAW metres (single-round reference rule);
        # display-round here for the float-hash policy
        F.round(F.col("distance_outside_m"), 1).alias("distance_outside_m"),
    )


_EXPERT_DIST_CTES = """
        rec AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS row_key,
                   'taxon:' || CAST(c_custkey % 5 AS VARCHAR) AS taxon,
                   -CAST(c_custkey % 60 AS DOUBLE) - CAST(0.5 AS DOUBLE)
                       AS lat,
                   CAST(c_custkey % 40 AS DOUBLE) + CAST(110.25 AS DOUBLE)
                       AS lon,
                   CAST(c_custkey % 4 AS DOUBLE) * CAST(20000.0 AS DOUBLE)
                       AS unc,
                   CAST(-10.0 AS DOUBLE) * ((c_custkey % 5) + 1) AS y1
            FROM customer
            WHERE c_custkey % 5 <> 4
        ),
        clamped AS (
            SELECT *,
                   LEAST(GREATEST(lon, CAST(110.0 AS DOUBLE)),
                         CAST(135.0 AS DOUBLE)) AS cx,
                   LEAST(GREATEST(lat, y1), CAST(0.0 AS DOUBLE)) AS cy,
                   cos(radians(lat)) AS cos_lat
            FROM rec
        ),
        tested AS (
            SELECT row_key, taxon, unc,
                   (lon > 110.0 AND lon < 135.0 AND lat > y1 AND lat < 0.0)
                       AS in_range,
                   CASE WHEN lon > 110.0 AND lon < 135.0
                             AND lat > y1 AND lat < 0.0
                        THEN CAST(0.0 AS DOUBLE)
                        ELSE sqrt(pow(lon*111320.0*cos_lat
                                      - cx*111320.0*cos_lat, 2)
                                  + pow(lat*110540.0 - cy*110540.0, 2))
                   END AS dist_raw
            FROM clamped
        ),
        flagged AS (
            -- the reference rule applies ONE round to the RAW metres
            -- (:474-480); display rounding happens only in the final
            -- projection
            SELECT *,
                   (round(dist_raw) > 0
                    AND round(dist_raw) - unc
                        > CAST(50000.0 AS DOUBLE)) AS is_outlier
            FROM tested
        )
"""


def _expert_dist_records(customer: DataFrame) -> DataFrame:
    k = F.col("c_custkey")
    return customer.select(
        F.concat(F.lit("c"), k.cast("string")).alias("occurrenceID"),
        F.concat(F.lit("taxon:"), F.pmod(k, F.lit(5)).cast("string")).alias(
            "taxonConceptID"
        ),
        (-F.pmod(k, F.lit(60)).cast("double") - F.lit(0.5)).alias(
            "decimalLatitude"
        ),
        (F.pmod(k, F.lit(40)).cast("double") + F.lit(110.25)).alias(
            "decimalLongitude"
        ),
        (F.pmod(k, F.lit(4)).cast("double") * F.lit(20000.0)).alias(
            "coordinateUncertaintyInMeters"
        ),
        F.when(F.pmod(k, F.lit(7)) == 0, F.lit("2026-02-01"))
        .otherwise(F.lit("2026-01-01"))
        .alias("lastModifiedTime"),
    )


def _expert_dist_dim(spark: SparkSession) -> DataFrame:
    return local_rows_df(
        spark,
        "taxonConceptID string, wkt string",
        [
            (
                f"taxon:{t}",
                f"POLYGON((110 {-10 * (t + 1)}, 135 {-10 * (t + 1)},"
                f" 135 0, 110 0, 110 {-10 * (t + 1)}))",
            )
            for t in range(4)
        ],
    )


@register(
    "expert_outlier_store_merge",
    doc=(
        "Persisted expert-distribution outlier store with incremental "
        "merge (operators/outlier_distribution.py expert_outlier_records "
        "+ outlier_store.merge_outlier_results — tool/"
        "ExpertDistributionOutlierTool.scala markOutlierOccurrences "
        ":459-510 and the distribution_outliers column family): a T0 "
        "store (records modified before the cutoff) is fully tested "
        "against per-taxon expert ranges, then the T1 ingest's touched "
        "taxa are re-tested over ALL their records and merged in "
        "(touched taxa replaced wholesale, untouched pass through). The "
        "outlier rule folds in coordinate uncertainty: round(distance) "
        "> 0 AND round(distance) - uncertainty > 50 km (:474-480); "
        "distance_outside_km is the reference's stored round(m/1000) "
        "(:487-488), only on outlier rows. The oracle is the FULL-run "
        "ground truth on the T1 records — the hash asserts incremental "
        "merge == full recompute."
    ),
    oracle=f"""
        WITH {_EXPERT_DIST_CTES}
        SELECT row_key, taxon, in_range,
               round(dist_raw, 1) AS distance_outside_m,
               CASE WHEN is_outlier
                    THEN CAST(round(dist_raw
                                    / CAST(1000.0 AS DOUBLE)) AS BIGINT)
               END AS distance_outside_km,
               is_outlier
        FROM flagged
    """,
)
def expert_outlier_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.outlier_distribution import (
        expert_outlier_records,
    )
    from biocache_store_spark.operators.outlier_store import (
        merge_outlier_results,
    )

    records = _expert_dist_records(read_table(spark, sf_dir, "customer"))
    dists = _expert_dist_dim(spark)
    detect = lambda d: expert_outlier_records(d, dists)  # noqa: E731
    t0 = records.filter(F.col("lastModifiedTime") < "2026-01-15")
    prev = detect(t0)
    groups = (
        records.filter(F.col("lastModifiedTime") >= "2026-01-15")
        .select(F.col("taxonConceptID").alias("taxon"))
        .distinct()
    )
    inc = detect(
        records.join(
            groups, records["taxonConceptID"] == groups["taxon"], "left_semi"
        )
    )
    merged = merge_outlier_results(prev, inc, groups, ["taxon"])
    return merged.select(
        "row_key",
        "taxon",
        "in_range",
        F.round(F.col("distance_outside_m"), 1).alias("distance_outside_m"),
        "distance_outside_km",
        "is_outlier",
    )


@register(
    "expert_outlier_markup",
    doc=(
        "Expert-outlier write-back under the external hash gate "
        "(operators/outlier_distribution.py apply_expert_outlier_markup "
        "— markOutlierOccurrences :459-528): a synthetic record store "
        "(every 3rd customer tested; every 15th an outlier) and revert "
        "list (every 11th untested record) are applied to a store whose "
        "even records carry a stale pre-existing entry and distance "
        "column — so the hash pins the km-string distance column, the "
        "FAILED '<m> metres outside of expert distribution range' "
        "comment, the PASSED flip on tested non-outliers (with the "
        "column cleared), the REMOVAL (not flip) on reverts, and "
        "untouched rows keeping their stale entry and column."
    ),
    oracle="""
        WITH rec AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS row_key,
                   c_custkey % 3 = 0 AS tested,
                   c_custkey % 15 = 0 AS is_out,
                   c_custkey % 11 = 0 AND c_custkey % 3 <> 0 AS in_revert,
                   c_custkey % 2 = 0 AS pre_marked,
                   CAST(c_custkey % 97 AS DOUBLE) * CAST(987.5 AS DOUBLE)
                       + CAST(51000.0 AS DOUBLE) AS dist_m
            FROM customer
        )
        SELECT row_key,
               CASE WHEN is_out
                        THEN CAST(CAST(round(dist_m / CAST(1000.0 AS DOUBLE))
                                       AS BIGINT) AS VARCHAR)
                    WHEN tested OR in_revert THEN NULL
                    WHEN pre_marked THEN '9' END AS dist_p,
               CASE WHEN is_out THEN 0
                    WHEN tested THEN 1
                    WHEN in_revert THEN NULL
                    WHEN pre_marked THEN 0 END AS qa_status,
               CASE WHEN is_out
                        THEN CAST(CAST(round(dist_m) AS BIGINT) AS VARCHAR)
                             || ' metres outside of expert distribution range'
                    WHEN tested THEN ''
                    WHEN in_revert THEN NULL
                    WHEN pre_marked THEN 'stale' END AS comment,
               CAST(tested OR (pre_marked AND NOT in_revert) AS BOOLEAN)
                   AS has_entry
        FROM rec
    """,
)
def expert_outlier_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.outlier_distribution import (
        apply_expert_outlier_markup,
    )
    from biocache_store_spark.processors.assertions import AssertionCodes
    from biocache_store_spark.processors.chain import ASSERTION_TYPE

    code = AssertionCodes.SPECIES_OUTSIDE_EXPERT_RANGE.code
    name = AssertionCodes.SPECIES_OUTSIDE_EXPERT_RANGE.name
    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    key = F.concat(F.lit("c"), k.cast("string"))
    # even records carry a stale pre-existing entry + distance column the
    # markup must REPLACE (outliers), flip (tested passed), REMOVE
    # (reverts) or leave alone (untouched)
    pre = F.struct(
        F.lit(code).alias("code"),
        F.lit(name).alias("name"),
        F.lit(0).alias("qa_status"),
        F.lit("stale").alias("comment"),
    )
    store = customer.select(
        key.alias("row_key"),
        F.when(F.pmod(k, F.lit(2)) == 0, F.array(pre).cast(ASSERTION_TYPE))
        .otherwise(F.array().cast(ASSERTION_TYPE))
        .alias("assertions"),
        F.when(F.pmod(k, F.lit(2)) == 0, F.lit("9")).alias(
            "distanceOutsideExpertRange_p"
        ),
    )
    dist_m = F.pmod(k, F.lit(97)).cast("double") * F.lit(987.5) + F.lit(51000.0)
    rec = customer.filter(F.pmod(k, F.lit(3)) == 0).select(
        key.alias("row_key"),
        F.lit("taxon:x").alias("taxon"),
        (F.pmod(k, F.lit(15)) != 0).alias("in_range"),
        dist_m.alias("distance_outside_m"),
        F.when(
            F.pmod(k, F.lit(15)) == 0,
            F.round(dist_m / F.lit(1000.0), 0).cast("bigint"),
        ).alias("distance_outside_km"),
        (F.pmod(k, F.lit(15)) == 0).alias("is_outlier"),
    )
    reverts = customer.filter(
        (F.pmod(k, F.lit(11)) == 0) & (F.pmod(k, F.lit(3)) != 0)
    ).select(key.alias("row_key"))
    marked = apply_expert_outlier_markup(store, rec, reverts, key_col="row_key")
    entry = F.filter(
        F.col("assertions"), lambda a: a["code"] == F.lit(code)
    )
    first = F.try_element_at(entry, F.lit(1))  # ANSI: empty array -> NULL
    return marked.select(
        "row_key",
        F.col("distanceOutsideExpertRange_p").alias("dist_p"),
        first["qa_status"].alias("qa_status"),
        first["comment"].alias("comment"),
        (F.size(entry) == 1).alias("has_entry"),
    )


# ---------------------------------------------------------------------------
# Maintenance: delete by keys, delete by query, upsert
# ---------------------------------------------------------------------------


@register(
    "maintenance_delete_upsert",
    doc=(
        "Maintenance rewrites chained (operators/maintenance.py — "
        "tool/DeleteRecords.scala / tool/QueryDelete.scala / "
        "Store.upsertRecord): delete-by-key-list (broadcast anti-join), "
        "delete-by-stored-query (SOLR q-string translator), then an upsert "
        "whose updates win via the window-dedup rewrite."
    ),
    oracle="""
        SELECT 'c' || CAST(c_custkey AS VARCHAR) AS rowKey,
               round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                          ELSE c_acctbal END, 2) AS bal
        FROM customer
        WHERE c_custkey % 97 <> 0 AND c_mktsegment <> 'BUILDING'
    """,
)
def maintenance_delete_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.maintenance import (
        delete_by_keys,
        delete_by_query,
        upsert,
    )

    customer = read_table(spark, sf_dir, "customer")
    table = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("rowKey"),
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
    )
    keys = customer.filter(F.pmod(F.col("c_custkey"), F.lit(97)) == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    )
    remaining, _dellog = delete_by_keys(table, keys, key_col="rowKey")
    remaining, _dellog2 = delete_by_query(
        remaining, "c_mktsegment:BUILDING", key_col="rowKey"
    )
    updates = remaining.filter(F.pmod(F.col("c_custkey"), F.lit(7)) == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    final = upsert(remaining, updates, key_col="rowKey")
    return final.select("rowKey", F.round(F.col("c_acctbal"), 2).alias("bal"))


# ---------------------------------------------------------------------------
# Parser families over mapInPandas
# ---------------------------------------------------------------------------


@register(
    "verbatim_coord_parse",
    doc=(
        "Verbatim DMS coordinate parsing (parsers/latlon.py — "
        "parser/VerbatimLatLongParser.scala:8-97) over four verbatim shapes "
        "(DMS with denominators, d/m tokens, bare triple, degrees+minutes). "
        "The oracle replays the reference's fixed-point integer conversion "
        "(scale by 1e7, integer-divide). Both sides emit the e7-scaled "
        "BIGINT itself — the parser's native fixed-point representation — "
        "so the comparison is pure integer and immune to any float "
        "canonicalization in the driver's value-hash (rounded doubles were "
        "still hash-red in rounds 1-3 despite exact == locally)."
    ),
    oracle="""
        WITH src AS (
            SELECT c_custkey AS record_id,
                   c_custkey % 90 AS deg,
                   (c_custkey * 7) % 60 AS mn,
                   (c_custkey * 13) % 60 AS sec,
                   c_custkey % 4 AS shape
            FROM customer
        )
        SELECT record_id,
               CAST(
                 CASE WHEN shape IN (0, 3) THEN -1 ELSE 1 END *
                 (deg * 10000000
                  + (mn * 10000000) // 60
                  + CASE WHEN shape = 3 THEN 0
                         ELSE (sec * 10000000) // 3600 END)
                 AS BIGINT) AS coord_e7
        FROM src
    """,
)
def verbatim_coord_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.latlon import parse as parse_latlon

    customer = read_table(spark, sf_dir, "customer")
    deg = F.pmod(F.col("c_custkey"), F.lit(90)).cast("string")
    mn = F.pmod(F.col("c_custkey") * 7, F.lit(60)).cast("string")
    sec = F.pmod(F.col("c_custkey") * 13, F.lit(60)).cast("string")
    shape = F.pmod(F.col("c_custkey"), F.lit(4))
    verbatim = (
        F.when(shape == 0, F.concat(deg, F.lit("° "), mn, F.lit("' "), sec, F.lit('" S')))
        .when(shape == 1, F.concat(deg, F.lit("d "), mn, F.lit("m "), sec, F.lit('" N')))
        .when(shape == 2, F.concat(deg, F.lit(" "), mn, F.lit(" "), sec, F.lit(" e")))
        .otherwise(F.concat(deg, F.lit("° "), mn, F.lit("' w")))
    )
    src = customer.select(
        F.col("c_custkey").alias("record_id"), verbatim.alias("verbatim")
    )
    parsed = _apply_parser(
        src,
        "verbatim",
        [("decimal_coord", T.DoubleType())],
        lambda s: (parse_latlon(s),),
    )
    # The parser computes sign * (deg*1e7 + mn*1e7//60 + sec*1e7//3600) / 1e7
    # (parser/VerbatimLatLongParser.scala fixed-point convention). Multiplying
    # back by 1e7 and rounding recovers that integer exactly (|x| < 9e8, well
    # inside double's 2^53 integer range), so both sides compare BIGINTs.
    return parsed.select(
        "record_id",
        F.round(F.col("decimal_coord") * 1e7).cast("long").alias("coord_e7"),
    )


@register(
    "distance_parse",
    doc=(
        "Distance/depth/elevation string parsing (parsers/distance.py — "
        "parser/DistanceRangeParser.scala:5-58) over five verbatim shapes: "
        "bare number, unit suffix, decimal km, feet (0.3048 with the "
        "reference's 6dp rounding), and a range taking the upper bound."
    ),
    oracle="""
        WITH src AS (
            SELECT p_partkey, p_partkey % 3000 AS v, p_partkey % 5 AS shape
            FROM part
        )
        SELECT p_partkey,
               CASE shape
                 WHEN 0 THEN CAST(v AS DOUBLE)
                 WHEN 1 THEN CAST(v AS DOUBLE)
                 WHEN 2 THEN (v + 0.5) * 1000.0
                 WHEN 3 THEN round(v * 0.3048, 6)
                 ELSE CAST(v AS DOUBLE)
               END AS metres,
               CASE shape
                 WHEN 2 THEN 'kilometres'
                 WHEN 3 THEN 'feet'
                 ELSE 'metres'
               END AS unit
        FROM src
    """,
)
def distance_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.distance import parse as parse_distance

    part = read_table(spark, sf_dir, "part")
    v = F.pmod(F.col("p_partkey"), F.lit(3000)).cast("string")
    shape = F.pmod(F.col("p_partkey"), F.lit(5))
    verbatim = (
        F.when(shape == 0, v)
        .when(shape == 1, F.concat(v, F.lit(" m")))
        .when(shape == 2, F.concat(v, F.lit(".5km")))
        .when(shape == 3, F.concat(v, F.lit("ft")))
        .otherwise(F.concat(F.lit("10m-"), v, F.lit("m")))
    )
    src = part.select("p_partkey", verbatim.alias("verbatim"))

    def run(s):
        r = parse_distance(s)
        return (None, None) if r is None else r

    parsed = _apply_parser(
        src,
        "verbatim",
        [("metres", T.DoubleType()), ("unit", T.StringType())],
        run,
    )
    return parsed.select("p_partkey", "metres", "unit")


@register(
    "license_canonicalize",
    doc=(
        "Licence-string canonicalization (parsers/license.py — "
        "vocab/License.scala over the 97-row generated regex table, "
        "first-match-wins substring semantics) across five verbatim "
        "shapes: short CC code with jurisdiction, creativecommons prose "
        "without jurisdiction (falls to the Int family), long-form "
        "'Attribution-NoDerivs' spelling, CC0, and an unrecognized "
        "all-rights string (Custom catch-all). The oracle enumerates the "
        "expected canonical per (shape, version) — the table is ordered, "
        "so outcomes are exact, not fuzzy."
    ),
    oracle="""
        WITH src AS (
            SELECT c_custkey AS record_id,
                   c_custkey % 5 AS shape,
                   CASE (c_custkey // 5) % 4
                     WHEN 0 THEN '3.0' WHEN 1 THEN '2.5'
                     WHEN 2 THEN '2.0' ELSE '1.0' END AS ver
            FROM customer
        )
        SELECT record_id,
               CASE shape
                 WHEN 0 THEN 'CC-BY-NC-SA ' || ver || ' (Au)'
                 WHEN 1 THEN 'CC-BY-SA ' || ver || ' (Int)'
                 WHEN 2 THEN 'CC-BY-ND 3.0 (Au)'
                 WHEN 3 THEN 'CC0'
                 ELSE 'Custom'
               END AS license
        FROM src
    """,
)
def license_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.license import match_license

    customer = read_table(spark, sf_dir, "customer")
    shape = F.pmod(F.col("c_custkey"), F.lit(5))
    ver = (
        F.when(F.pmod(F.floor(F.col("c_custkey") / 5), F.lit(4)) == 0, "3.0")
        .when(F.pmod(F.floor(F.col("c_custkey") / 5), F.lit(4)) == 1, "2.5")
        .when(F.pmod(F.floor(F.col("c_custkey") / 5), F.lit(4)) == 2, "2.0")
        .otherwise("1.0")
    )
    verbatim = (
        F.when(shape == 0, F.concat(F.lit("CC-BY-NC-SA "), ver, F.lit(" au")))
        .when(shape == 1, F.concat(F.lit("creativecommons by sa "), ver))
        .when(shape == 2, F.lit("Attribution-NoDerivs 3.0 Australia"))
        .when(shape == 3, F.lit("CC0"))
        .otherwise(
            F.concat(F.lit("(c) publisher "), F.col("c_custkey").cast("string"))
        )
    )
    src = customer.select(
        F.col("c_custkey").alias("record_id"), verbatim.alias("verbatim")
    )
    parsed = _apply_parser(
        src,
        "verbatim",
        [("license", T.StringType())],
        lambda s: (match_license(s),),
    )
    return parsed.select("record_id", "license")


@register(
    "fuzzy_date_parse",
    doc=(
        "Fuzzy event-date parsing (parsers/dates.py parse_date — "
        "parser/DateParser.scala format ladder) over five verbatim format "
        "families: ISO, dd/MM/yyyy, dd-MM-yyyy, 'dd MMM yyyy', and "
        "month-precision yyyy-MM. Outputs the EventDate components the "
        "EventProcessor stores (date string + day/month/year strings)."
    ),
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 4 THEN strftime(o_orderdate, '%Y-%m')
                    ELSE strftime(o_orderdate, '%Y-%m-%d') END AS event_date,
               CASE WHEN o_orderkey % 5 = 4 THEN ''
                    ELSE strftime(o_orderdate, '%d') END AS day,
               strftime(o_orderdate, '%m') AS month,
               strftime(o_orderdate, '%Y') AS year
        FROM orders
    """,
)
def fuzzy_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.dates import parse_date

    orders = read_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    shape = F.pmod(F.col("o_orderkey"), F.lit(5))
    verbatim = (
        F.when(shape == 0, F.date_format(od, "yyyy-MM-dd"))
        .when(shape == 1, F.date_format(od, "dd/MM/yyyy"))
        .when(shape == 2, F.date_format(od, "dd-MM-yyyy"))
        .when(shape == 3, F.date_format(od, "dd MMM yyyy"))
        .otherwise(F.date_format(od, "yyyy-MM"))
    )
    src = orders.select("o_orderkey", verbatim.alias("verbatim"))

    def run(s):
        ev = parse_date(s)
        if ev is None:
            return (None, None, None, None)
        return (ev.start_date, ev.start_day, ev.start_month, ev.start_year)

    parsed = _apply_parser(
        src,
        "verbatim",
        [
            ("event_date", T.StringType()),
            ("day", T.StringType()),
            ("month", T.StringType()),
            ("year", T.StringType()),
        ],
        run,
    )
    return parsed.select("o_orderkey", "event_date", "day", "month", "year")


@register(
    "gridref_parse",
    doc=(
        "OSGB grid-reference parsing (parsers/gridref.py "
        "grid_reference_to_easting_northing — "
        "util/GridUtil.scala:211-480): 100km letter squares + digit pairs, "
        "the 1-number split form, DINTY tetrad letters (2km subcells), and "
        "quadrant refs (NW/NE/SW/SE 5km subcells). The oracle encodes the "
        "six squares' 100km origins and the subcell arithmetic."
    ),
    oracle="""
        WITH src AS (
            SELECT p_partkey,
                   ['NM','NH','SK','TL','NO','SU'][(p_partkey % 6) + 1] AS sq,
                   ['A','F','K','P','Z'][(p_partkey % 5) + 1] AS tet,
                   p_partkey % 1000 AS e3,
                   (p_partkey * 7) % 1000 AS n3,
                   p_partkey % 4 AS shape
            FROM part
        ),
        origins AS (
            SELECT *,
                   CASE sq WHEN 'NM' THEN 100000 WHEN 'NH' THEN 200000
                           WHEN 'SK' THEN 400000 WHEN 'TL' THEN 500000
                           WHEN 'NO' THEN 300000 WHEN 'SU' THEN 400000
                   END AS e0,
                   CASE sq WHEN 'NM' THEN 700000 WHEN 'NH' THEN 800000
                           WHEN 'SK' THEN 300000 WHEN 'TL' THEN 200000
                           WHEN 'NO' THEN 700000 WHEN 'SU' THEN 100000
                   END AS n0,
                   CASE tet WHEN 'A' THEN 0 WHEN 'F' THEN 5 WHEN 'K' THEN 10
                            WHEN 'P' THEN 14 WHEN 'Z' THEN 24
                   END AS tet_idx
            FROM src
        )
        SELECT p_partkey,
               CASE shape
                 WHEN 0 THEN e0 + e3 * 100
                 WHEN 1 THEN e0 + (e3 // 10) * 1000
                 WHEN 2 THEN e0 + (e3 // 100) * 10000 + (tet_idx // 5) * 2000
                 ELSE e0 + (e3 // 10) * 1000 + 250
               END AS easting,
               CASE shape
                 WHEN 0 THEN n0 + n3 * 100
                 WHEN 1 THEN n0 + (n3 // 10) * 1000
                 WHEN 2 THEN n0 + (n3 // 100) * 10000 + (tet_idx % 5) * 2000
                 ELSE n0 + (n3 // 10) * 1000 + 750
               END AS northing,
               CASE shape WHEN 0 THEN 100 WHEN 1 THEN 1000
                          WHEN 2 THEN 2000 ELSE 500 END AS uncertainty
        FROM origins
    """,
)
def gridref_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.gridref import (
        grid_reference_to_easting_northing,
    )

    part = read_table(spark, sf_dir, "part")
    sq = F.element_at(
        F.array(*[F.lit(s) for s in ("NM", "NH", "SK", "TL", "NO", "SU")]),
        (F.pmod(F.col("p_partkey"), F.lit(6)) + 1).cast("int"),
    )
    tet = F.element_at(
        F.array(*[F.lit(s) for s in ("A", "F", "K", "P", "Z")]),
        (F.pmod(F.col("p_partkey"), F.lit(5)) + 1).cast("int"),
    )
    e3 = F.lpad(F.pmod(F.col("p_partkey"), F.lit(1000)).cast("string"), 3, "0")
    n3 = F.lpad(F.pmod(F.col("p_partkey") * 7, F.lit(1000)).cast("string"), 3, "0")
    e2 = F.substring(e3, 1, 2)
    n2 = F.substring(n3, 1, 2)
    e1 = F.substring(e3, 1, 1)
    n1 = F.substring(n3, 1, 1)
    shape = F.pmod(F.col("p_partkey"), F.lit(4))
    ref = (
        F.when(shape == 0, F.concat(sq, F.lit(" "), e3, F.lit(" "), n3))
        .when(shape == 1, F.concat(sq, e2, n2))
        .when(shape == 2, F.concat(sq, F.lit(" "), e1, F.lit(" "), n1, F.lit(" "), tet))
        .otherwise(F.concat(sq, F.lit(" "), e2, F.lit(" "), n2, F.lit(" NW")))
    )
    src = part.select("p_partkey", ref.alias("gridref"))

    def run(s):
        g = grid_reference_to_easting_northing(s)
        if g is None:
            return (None, None, None)
        return (g.easting, g.northing, g.coordinate_uncertainty)

    parsed = _apply_parser(
        src,
        "gridref",
        [
            ("easting", T.LongType()),
            ("northing", T.LongType()),
            ("uncertainty", T.LongType()),
        ],
        run,
    )
    return parsed.select("p_partkey", "easting", "northing", "uncertainty")


# ---------------------------------------------------------------------------
# Processor-chain vocabulary stages + raw/processed comparison
# ---------------------------------------------------------------------------


@register(
    "chain_vocab_fields",
    doc=(
        "Vocabulary processor stages through the REAL 12-stage chain "
        "(processors/chain.process_records): typeStatus word-scan "
        "(TypeStatusProcessor.scala:26-47, >=4-letter words, '|'-joined "
        "distinct canonicals), establishmentMeans list canonicalization and "
        "occurrenceStatus defaulting (MiscellaneousProcessor.scala:21-178)."
    ),
    oracle="""
        SELECT p_partkey,
               CASE p_partkey % 4
                 WHEN 0 THEN 'holotype'
                 WHEN 1 THEN 'holotype'
                 WHEN 2 THEN 'paratype|syntype'
               END AS type_status,
               CASE p_partkey % 3
                 WHEN 0 THEN 'native'
                 WHEN 1 THEN 'introduced; native'
               END AS establishment_means,
               CASE p_partkey % 4
                 WHEN 1 THEN 'absent'
                 ELSE 'present'
               END AS occurrence_status
        FROM part
    """,
)
def chain_vocab_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.chain import process_records

    part = read_table(spark, sf_dir, "part")
    ts = F.pmod(F.col("p_partkey"), F.lit(4))
    em = F.pmod(F.col("p_partkey"), F.lit(3))
    occ = part.select(
        "p_partkey",
        F.when(ts == 0, F.lit("holotype"))
        .when(ts == 1, F.lit("HOLOTYPUS material"))
        .when(ts == 2, F.lit("paratype and syntype"))
        .otherwise(F.lit(""))
        .alias("typeStatus"),
        F.when(em == 0, F.lit("native"))
        .when(em == 1, F.lit("naturalised; indigenous"))
        .otherwise(F.lit("garbage"))
        .alias("establishmentMeans"),
        F.when(ts == 0, F.lit("present"))
        .when(ts == 1, F.lit("absent"))
        .when(ts == 2, F.lit(""))
        .otherwise(F.lit("irregular"))
        .alias("occurrenceStatus"),
    )
    out = process_records(occ)
    return out.select(
        "p_partkey",
        F.col("processed")["typeStatus"].alias("type_status"),
        F.col("processed")["establishmentMeans"].alias("establishment_means"),
        F.col("processed")["occurrenceStatus"].alias("occurrence_status"),
    )


@register(
    "collector_name_parse",
    doc=(
        "Collector (recordedBy) name normalization (parsers/collector.py — "
        "parser/CollectorNameParser.scala:6-162): 'Surname, I.N. Firstname' "
        "canonicalization across the reference's pattern cascade — "
        "surname-comma-initials, initials-surname, ampersand pairs sharing "
        "a surname, title stripping, quoted multi-collector strings, "
        "unknown markers, organisation passthrough, and ';'-separated "
        "lists. Output is the '|'-joined parseForList result."
    ),
    oracle="""
        SELECT p_partkey,
               CASE p_partkey % 8
                 WHEN 0 THEN 'Smith, J.'
                 WHEN 1 THEN 'Smith, J.'
                 WHEN 2 THEN 'Fisher, K. Keith|Fisher, L. Lindsay'
                 WHEN 3 THEN 'Hegedus, A. Alexandra'
                 WHEN 4 THEN 'n/a'
                 WHEN 5 THEN 'Kenny, S.D. Sue|Wallace-Ward, D. Di'
                 WHEN 6 THEN 'Natural History Museum'
                 ELSE 'Carter, A.B.|Davis, C.D.'
               END AS collectors
        FROM part
    """,
)
def collector_name_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.collector import parse_for_list

    part = read_table(spark, sf_dir, "part")
    s = F.pmod(F.col("p_partkey"), F.lit(8))
    verbatim = (
        F.when(s == 0, F.lit("Smith, J."))
        .when(s == 1, F.lit("J. Smith"))
        .when(s == 2, F.lit("Keith & Lindsay Fisher"))
        .when(s == 3, F.lit("Hegedus, Ms Alexandra"))
        .when(s == 4, F.lit("n/a"))
        .when(s == 5, F.lit('"KENNY S.D. Sue""WALLACE-WARD D. Di"'))
        .when(s == 6, F.lit("Natural History Museum"))
        .otherwise(F.lit("A.B. Carter; C.D. Davis"))
    )
    src = part.select("p_partkey", verbatim.alias("recordedBy"))

    def run(v):
        names = parse_for_list(v)
        return ("|".join(names) if names else None,)

    parsed = _apply_parser(src, "recordedBy", [("collectors", T.StringType())], run)
    return parsed.select("p_partkey", "collectors")


@register(
    "coordinate_validation",
    doc=(
        "Lat/long validation ladder (processors/location.py "
        "validate_coordinates — LocationProcessor.scala:792-891): in-range "
        "passthrough, inverted-coordinate swap (lat out of range while the "
        "pair inverted is valid), 0,0 nullification, country-bbox negation "
        "(positive latitude inside Australia's bbox when negated), and "
        "out-of-range retention. Flags are the failed assertion codes "
        "1/3/4/5; the oracle replays swap/negate/null arithmetic."
    ),
    oracle="""
        WITH src AS (
            SELECT c_custkey AS k, c_custkey % 5 AS s,
                   printf('%.2f', -(CAST(c_custkey % 80 AS DOUBLE) + 0.5)) AS lat0,
                   printf('%.2f', CAST(c_custkey % 60 AS DOUBLE) + 91.25) AS lon0,
                   printf('%.2f', CAST(c_custkey % 30 AS DOUBLE) + 11.5) AS lat3,
                   printf('%.2f', CAST(c_custkey % 40 AS DOUBLE) + 113.25) AS lon3,
                   printf('%.2f', -(CAST(c_custkey % 80 AS DOUBLE) + 200.5)) AS lat4
            FROM customer
        )
        SELECT k,
               CASE s WHEN 0 THEN lat0 WHEN 1 THEN lat0
                      WHEN 3 THEN printf('%.1f', -(CAST(k % 30 AS DOUBLE) + 11.5))
                      WHEN 4 THEN lat4 END AS lat_out,
               CASE s WHEN 0 THEN lon0 WHEN 1 THEN lon0
                      WHEN 3 THEN lon3 WHEN 4 THEN lon0 END AS lon_out,
               CASE WHEN s = 1 THEN 1 ELSE 0 END AS inverted,
               CASE WHEN s = 2 THEN 1 ELSE 0 END AS zero_coords,
               CASE WHEN s = 3 THEN 1 ELSE 0 END AS negated,
               CASE WHEN s = 4 THEN 1 ELSE 0 END AS out_of_range
        FROM src
    """,
)
def coordinate_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.location import process_location

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = F.pmod(k, F.lit(5))
    lat0 = F.format_string("%.2f", -(F.pmod(k, F.lit(80)).cast("double") + 0.5))
    lon0 = F.format_string("%.2f", F.pmod(k, F.lit(60)).cast("double") + 91.25)
    lat3 = F.format_string("%.2f", F.pmod(k, F.lit(30)).cast("double") + 11.5)
    lon3 = F.format_string("%.2f", F.pmod(k, F.lit(40)).cast("double") + 113.25)
    lat4 = F.format_string("%.2f", -(F.pmod(k, F.lit(80)).cast("double") + 200.5))
    src = customer.select(
        k.alias("k"),
        F.when(s == 0, lat0).when(s == 1, lon0).when(s == 2, F.lit("0"))
        .when(s == 3, lat3).otherwise(lat4).alias("decimalLatitude"),
        F.when(s == 0, lon0).when(s == 1, lat0).when(s == 2, F.lit("0"))
        .when(s == 3, lon3).otherwise(lon0).alias("decimalLongitude"),
        F.when(s == 3, F.lit("Australia")).alias("country"),
        F.lit("WGS84").alias("geodeticDatum"),
    )

    def run(raw: dict):
        processed, assertions = process_location(dict(raw))
        failed = {a.code for a in assertions if a.qa_status == 0}
        return (
            processed.get("decimalLatitude"),
            processed.get("decimalLongitude"),
            int(3 in failed),
            int(4 in failed),
            int(1 in failed),
            int(5 in failed),
        )

    parsed = _apply_record_parser(
        src,
        ["decimalLatitude", "decimalLongitude", "country", "geodeticDatum"],
        [
            ("lat_out", T.StringType()),
            ("lon_out", T.StringType()),
            ("inverted", T.IntegerType()),
            ("zero_coords", T.IntegerType()),
            ("negated", T.IntegerType()),
            ("out_of_range", T.IntegerType()),
        ],
        run,
    )
    return parsed.select(
        "k", "lat_out", "lon_out", "inverted", "zero_coords", "negated",
        "out_of_range",
    )


@register(
    "habitat_biome_match",
    doc=(
        "Habitat/biome compatibility (processors/location.py "
        "check_biome_mismatch / habitats_compatible — "
        "LocationProcessor.scala:652-696 + vocab/VocabMaps.scala:26-69): "
        "the point's biome vs the taxon profile's habitats through the "
        "reference's habitat map (MARINE vs the NON-MARINE family incl. "
        "TERRESTRIAL/LIMNETIC, the MARINE AND NON-MARINE bridge term), "
        "with passed/failed/unchecked qa states."
    ),
    oracle="""
        SELECT p_partkey,
               CASE p_partkey % 6
                 WHEN 0 THEN 1  -- Terrestrial/Terrestrial compatible
                 WHEN 1 THEN 0  -- Terrestrial/Marine mismatch
                 WHEN 2 THEN 1  -- Marine/'Marine and non-marine' bridge
                 WHEN 3 THEN 1  -- Limnetic/Terrestrial same family
                 WHEN 4 THEN 0  -- Marine/Terrestrial mismatch
                 ELSE 2         -- no biome -> unchecked
               END AS habitat_qa
        FROM part
    """,
)
def habitat_biome_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.location import check_biome_mismatch

    part = read_table(spark, sf_dir, "part")
    s = F.pmod(F.col("p_partkey"), F.lit(6))
    biome = (
        F.when(s == 0, F.lit("Terrestrial"))
        .when(s == 1, F.lit("Terrestrial"))
        .when(s == 2, F.lit("Marine"))
        .when(s == 3, F.lit("Limnetic"))
        .when(s == 4, F.lit("Marine"))
        .otherwise(F.lit(None).cast("string"))
    )
    habitat = (
        F.when(s == 0, F.lit("Terrestrial"))
        .when(s == 1, F.lit("Marine"))
        .when(s == 2, F.lit("Marine and non-marine"))
        .when(s == 3, F.lit("Terrestrial"))
        .when(s == 4, F.lit("Terrestrial"))
        .otherwise(F.lit("Marine"))
    )
    src = part.select("p_partkey", biome.alias("biome"), habitat.alias("habitat"))

    def run(raw: dict):
        assertions: list = []
        processed = {"biome": raw["biome"]} if raw["biome"] is not None else {}
        check_biome_mismatch(processed, [raw["habitat"]], assertions)
        return (assertions[0].qa_status,)

    parsed = _apply_record_parser(
        src, ["biome", "habitat"], [("habitat_qa", T.IntegerType())], run
    )
    return parsed.select("p_partkey", "habitat_qa")


@register(
    "coordinate_uncertainty_check",
    doc=(
        "Coordinate-uncertainty processing (processors/location.py "
        "check_coordinate_uncertainty — LocationProcessor.scala:570-643): "
        "distance-parser reuse (bare metres, km, unit suffix), the "
        "reference's .1f reformat, non-positive range-mismatch, "
        "unparsable and not-specified assertion paths."
    ),
    oracle="""
        SELECT p_partkey,
               CASE p_partkey % 6
                 WHEN 0 THEN '100.0'
                 WHEN 1 THEN '1000.0'
                 WHEN 2 THEN '14.5'
                 WHEN 5 THEN '-5.0'
               END AS unc_out,
               CASE WHEN p_partkey % 6 IN (3, 5) THEN 1 ELSE 0 END
                 AS range_or_parse_failed,
               CASE WHEN p_partkey % 6 IN (3, 4) THEN 1 ELSE 0 END
                 AS not_specified  -- unparsable also counts as unspecified
        FROM part
    """,
)
def coordinate_uncertainty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.location import (
        check_coordinate_uncertainty,
    )

    part = read_table(spark, sf_dir, "part")
    s = F.pmod(F.col("p_partkey"), F.lit(6))
    unc = (
        F.when(s == 0, F.lit("100"))
        .when(s == 1, F.lit("1km"))
        .when(s == 2, F.lit("14.5m"))
        .when(s == 3, F.lit("garbage"))
        .when(s == 4, F.lit(""))
        .otherwise(F.lit("-5"))
    )
    src = part.select("p_partkey", unc.alias("coordinateUncertaintyInMeters"))

    def run(raw: dict):
        processed: dict = {}
        assertions: list = []
        check_coordinate_uncertainty(raw, processed, assertions)
        failed = {a.code for a in assertions if a.qa_status == 0}
        return (
            processed.get("coordinateUncertaintyInMeters"),
            int(24 in failed),
            int(27 in failed),
        )

    parsed = _apply_record_parser(
        src,
        ["coordinateUncertaintyInMeters"],
        [
            ("unc_out", T.StringType()),
            ("range_or_parse_failed", T.IntegerType()),
            ("not_specified", T.IntegerType()),
        ],
        run,
    )
    return parsed.select(
        "p_partkey", "unc_out", "range_or_parse_failed", "not_specified"
    )


@register(
    "state_centroid_inference",
    doc=(
        "State/country inference + centre-point tests (processors/"
        "location.py process_state_country_values / validate_centre_points "
        "— LocationProcessor.scala:137-165, :192-212): state vocabulary "
        "canonicalization ('vic'->'Victoria'), StateProvinceToCountry "
        "inference, unrecognised-state passthrough, and the "
        "coordinates-are-state-centre assertion at both exact and "
        "supplied-precision-rounded coordinates."
    ),
    oracle="""
        SELECT c_custkey AS k,
               CASE c_custkey % 7
                 WHEN 0 THEN 'Victoria' WHEN 1 THEN 'New South Wales'
                 WHEN 2 THEN 'Queensland' WHEN 3 THEN 'Tasmania'
                 WHEN 4 THEN NULL
                 ELSE 'New South Wales' END AS state_out,
               CASE WHEN c_custkey % 7 IN (0, 1, 2, 3) THEN 'Australia'
               END AS country_out,
               CASE WHEN c_custkey % 7 IN (5, 6) THEN 1 ELSE 0 END
                 AS centre_of_state
        FROM customer
    """,
)
def state_centroid_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.assertions import AssertionCodes as C
    from biocache_store_spark.processors.location import (
        process_state_country_values,
        validate_centre_points,
    )

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = F.pmod(k, F.lit(7))
    state = F.element_at(
        F.array(
            F.lit("vic"), F.lit("nsw"), F.lit("Qld"), F.lit("tas"),
            F.lit("garbage-state"), F.lit("nsw"), F.lit("nsw"),
        ),
        (s + 1).cast("int"),
    )
    lat = (
        F.when(s == 5, F.lit("-31.2532183"))
        .when(s == 6, F.lit("-31.25"))
        .otherwise(F.lit(None).cast("string"))
    )
    lon = (
        F.when(s == 5, F.lit("146.921099"))
        .when(s == 6, F.lit("146.92"))
        .otherwise(F.lit(None).cast("string"))
    )
    src = customer.select(
        k.alias("k"), state.alias("stateProvince"),
        lat.alias("decimalLatitude"), lon.alias("decimalLongitude"),
    )

    def run(raw: dict):
        processed: dict = {}
        assertions: list = []
        if raw.get("decimalLatitude") is None:
            process_state_country_values(raw, processed)
        else:
            # the layer join supplies the processed state on the coord path
            processed["stateProvince"] = "New South Wales"
        validate_centre_points(raw, processed, assertions)
        centre = any(
            a.code == C.COORDINATES_CENTRE_OF_STATEPROVINCE.code
            and a.qa_status == 0
            for a in assertions
        )
        return (
            processed.get("stateProvince"),
            processed.get("country") or None,
            int(centre),
        )

    parsed = _apply_record_parser(
        src,
        ["stateProvince", "decimalLatitude", "decimalLongitude"],
        [
            ("state_out", T.StringType()),
            ("country_out", T.StringType()),
            ("centre_of_state", T.IntegerType()),
        ],
        run,
    )
    return parsed.select("k", "state_out", "country_out", "centre_of_state")


def _datum_oracle():
    from biocache_store_spark.queries._geo_sql import datum_reprojection_oracle_sql

    return datum_reprojection_oracle_sql()


def _utm_oracle():
    from biocache_store_spark.queries._geo_sql import utm_inverse_oracle_sql

    return utm_inverse_oracle_sql()


@register(
    "datum_reprojection",
    doc=(
        "Geographic datum reprojection to WGS84 (parsers/gridref."
        "reproject_geographic_to_wgs84 — util/GISUtil.scala:27-60 "
        "reprojectCoordinatesToWGS84): AGD66 (7-param Helmert), OSGB36 "
        "(full rotation+scale), NAD27 (3-param shift), GDA94 (GRS80 "
        "identity). The oracle replays the cartesian Helmert transform and "
        "the fixed 8-iteration latitude solve in generated DuckDB SQL "
        "(queries/_geo_sql.py); a margin test proves every value in the "
        "k%200-bounded input space is far from a 6dp rounding boundary."
    ),
    oracle=_datum_oracle(),
)
def datum_reprojection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.gridref import reproject_geographic_to_wgs84
    from biocache_store_spark.queries._geo_sql import DATUM_QUERY_DATUMS

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    src = customer.select(
        k.alias("k"),
        (F.pmod(k, F.lit(50)) * 1.37 - 40.123).alias("lat"),
        (F.pmod(k, F.lit(40)) * 3.1 + 100.456).alias("lon"),
        F.element_at(
            F.array(*[F.lit(d) for d in DATUM_QUERY_DATUMS]),
            (F.pmod(k, F.lit(4)) + 1).cast("int"),
        ).alias("epsg"),
    )

    def run(raw: dict):
        out = reproject_geographic_to_wgs84(
            float(raw["lat"]), float(raw["lon"]), raw["epsg"], 6
        )
        return (None, None) if out is None else out

    parsed = _apply_record_parser(
        src,
        ["lat", "lon", "epsg"],
        [("lat_wgs84", T.DoubleType()), ("lon_wgs84", T.DoubleType())],
        run,
    )
    return parsed.select("k", "epsg", "lat_wgs84", "lon_wgs84")


@register(
    "utm_inverse",
    doc=(
        "Easting/northing+zone -> WGS84 (parsers/utm."
        "easting_northing_zone_to_wgs84 — util/GridUtil.scala:573-620 "
        "processNorthingEastingZone): zone->EPSG key lookup (AMG/MGA "
        "southern zones, UTM N/S, invalid-zone None), inverse transverse "
        "Mercator (meridional-arc iteration), and the AGD66/84 Helmert leg. "
        "The oracle unrolls the same iteration + series in generated "
        "DuckDB SQL (queries/_geo_sql.py); the k%120-bounded input space "
        "is margin-tested against 5dp rounding boundaries."
    ),
    oracle=_utm_oracle(),
)
def utm_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.parsers.utm import (
        easting_northing_zone_to_wgs84,
        zone_epsg_code,
    )

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cls = F.pmod(k, F.lit(5))
    src = customer.select(
        k.alias("k"),
        (F.lit(300000.0) + F.pmod(k, F.lit(60)) * 6000).alias("easting"),
        (F.lit(6000000.0) + F.pmod(k, F.lit(40)) * 50000).alias("northing"),
        F.element_at(
            F.array(
                F.lit(None).cast("string"),  # missing srs -> GDA94 default
                F.lit("AGD66"),
                F.lit("AGD84"),
                F.lit("WGS84"),
                F.lit("GDA94"),
            ),
            (cls + 1).cast("int"),
        ).alias("srs"),
        F.element_at(
            F.array(F.lit("50"), F.lit("51"), F.lit("52"), F.lit("55N"), F.lit("99")),
            (cls + 1).cast("int"),
        ).alias("zone"),
    )

    def run(raw: dict):
        epsg = zone_epsg_code(raw["srs"], raw["zone"])
        out = easting_northing_zone_to_wgs84(
            float(raw["easting"]), float(raw["northing"]), raw["zone"], raw["srs"]
        )
        lat, lon = out if out is not None else (None, None)
        return (epsg, lat, lon)

    parsed = _apply_record_parser(
        src,
        ["easting", "northing", "srs", "zone"],
        [
            ("epsg_code", T.StringType()),
            ("lat_wgs84", T.DoubleType()),
            ("lon_wgs84", T.DoubleType()),
        ],
        run,
    )
    return parsed.select("k", "epsg_code", "lat_wgs84", "lon_wgs84")


@register(
    "date_precision_reformat",
    doc=(
        "Date-precision vocabulary + reformatToPrecision "
        "(processors/event.py _check_precision/_reformat_to_precision — "
        "EventProcessor.scala:479-645): raw day/month/year assembled to an "
        "ISO eventDate, then truncated per the datePrecision term (Day / "
        "Month / Year / Day Range / Month Range-style nullification), the "
        "unrecognised-precision assertion path, and the determined-precision "
        "cascade for dates without a precision (incl. the separately "
        "supplied eventDateEnd range whose differing day nullifies the day "
        "component and determines 'Month'). Oracle replays every branch."
    ),
    oracle="""
        WITH src AS (
            SELECT o_orderkey AS k,
                   1950 + o_orderkey % 50 AS y,
                   CAST(o_orderkey % 12 + 1 AS INTEGER) AS m,
                   CAST(o_orderkey % 28 + 1 AS INTEGER) AS d,
                   o_orderkey % 8 AS s
            FROM orders
        ),
        shaped AS (
            SELECT *,
                   printf('%04d-%02d-%02d', y, m, d) AS iso,
                   printf('%04d-%02d', y, m) AS ym,
                   printf('%04d', y) AS yy,
                   (d % 28) + 1 AS d2
            FROM src
        )
        SELECT k,
               CASE s WHEN 1 THEN ym WHEN 2 THEN yy WHEN 3 THEN ym
                      WHEN 4 THEN yy ELSE iso END AS event_date,
               CASE s WHEN 7 THEN printf('%04d-%02d-%02d', y, m, d2) END
                 AS event_date_end,
               CASE WHEN s IN (1, 2, 4, 7) THEN NULL
                    ELSE CAST(d AS VARCHAR) END AS day,
               CASE WHEN s IN (2, 4) THEN NULL
                    ELSE printf('%02d', m) END AS month,
               CASE WHEN s = 4 THEN NULL ELSE CAST(y AS VARCHAR) END AS year,
               CASE s WHEN 0 THEN 'Day' WHEN 1 THEN 'Month' WHEN 2 THEN 'Year'
                      WHEN 3 THEN 'Day Range' WHEN 4 THEN 'Year Range'
                      WHEN 5 THEN 'Day' WHEN 6 THEN 'Day'
                      ELSE 'Month' END AS date_precision,
               CASE WHEN s = 5 THEN 1 ELSE 0 END AS n_mismatch
        FROM shaped
    """,
)
def date_precision_reformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.assertions import AssertionCodes as C
    from biocache_store_spark.processors.event import process_event

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    y = (F.lit(1950) + F.pmod(k, F.lit(50))).cast("int")
    m = (F.pmod(k, F.lit(12)) + 1).cast("int")
    d = (F.pmod(k, F.lit(28)) + 1).cast("int")
    s = F.pmod(k, F.lit(8))
    d2 = (F.pmod(d, F.lit(28)) + 1).cast("int")
    precision = (
        F.when(s == 0, F.lit("Day"))
        .when(s == 1, F.lit("mon"))
        .when(s == 2, F.lit("yr"))
        .when(s == 3, F.lit("dd"))
        .when(s == 4, F.lit("yy"))
        .when(s == 5, F.lit("garbage-precision"))
        .otherwise(F.lit(None).cast("string"))
    )
    end_date = F.when(
        s == 7,
        F.format_string("%04d-%02d-%02d", y, m, d2),
    )
    src = orders.select(
        k.alias("k"),
        y.cast("string").alias("year"),
        m.cast("string").alias("month"),
        d.cast("string").alias("day"),
        precision.alias("datePrecision"),
        end_date.alias("eventDateEnd"),
    )

    def run(raw: dict):
        processed, assertions = process_event(raw, today=_dt.date(2026, 1, 1))
        n_mismatch = sum(
            1
            for a in assertions
            if a.code == C.DATE_PRECISION_MISMATCH.code and a.qa_status == 0
        )
        return (
            processed.get("eventDate"),
            processed.get("eventDateEnd"),
            processed.get("day"),
            processed.get("month"),
            processed.get("year"),
            processed.get("datePrecision"),
            n_mismatch,
        )

    parsed = _apply_record_parser(
        src,
        ["year", "month", "day", "datePrecision", "eventDateEnd"],
        [
            ("event_date", T.StringType()),
            ("event_date_end", T.StringType()),
            ("day_out", T.StringType()),
            ("month_out", T.StringType()),
            ("year_out", T.StringType()),
            ("date_precision", T.StringType()),
            ("n_mismatch", T.IntegerType()),
        ],
        run,
    )
    return parsed.select(
        "k",
        "event_date",
        "event_date_end",
        F.col("day_out").alias("day"),
        F.col("month_out").alias("month"),
        F.col("year_out").alias("year"),
        "date_precision",
        "n_mismatch",
    )


_WKT_RULE_POLY = (
    "POLYGON((-50 -30, 30 -30, 30 0, 0 0, 0 25, -50 25, -50 -30))"
)


def _wkt_oracle_sql() -> str:
    from biocache_store_spark.plans.solr_query import wkt_predicate_sql

    in_poly = wkt_predicate_sql(_WKT_RULE_POLY, lat_col="lat", lon_col="lon")
    return f"""
        WITH recs AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS record_id,
                   c_mktsegment AS segment,
                   (c_custkey % 80) - 40 + 0.3 AS lat,
                   (c_custkey % 160) - 80 + 0.7 AS lon,
                   c_custkey AS k
            FROM customer
        ),
        current_match AS (
            SELECT record_id FROM recs
            WHERE segment = 'BUILDING' AND {in_poly}
        ),
        prev AS (
            SELECT record_id FROM recs WHERE k % 4 = 0
        )
        SELECT record_id, 'assert' AS action
        FROM current_match WHERE record_id NOT IN (SELECT record_id FROM prev)
        UNION ALL
        SELECT record_id, 'unassert' AS action
        FROM prev WHERE record_id NOT IN (SELECT record_id FROM current_match)
    """


@register(
    "stored_query_bbox",
    doc=(
        "Stored-query replay with the Qid's spatial bbox "
        "(model/Qid.scala:9: bbox = [minX, minY, maxX, maxY] persisted "
        "alongside q/fqs): plans/solr_query.qid_predicate compiles "
        "q + fq + bbox into one Column predicate — the bbox is four range "
        "predicates over the coordinate columns, pushdown-friendly."
    ),
    oracle="""
        WITH recs AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   (o_orderkey % 180) - 90 + 0.5 AS lat,
                   (o_orderkey % 360) - 180 + 0.25 AS lon
            FROM orders
        )
        SELECT o_orderkey, o_orderpriority, lat, lon
        FROM recs
        WHERE o_orderpriority = '2-HIGH' AND o_totalprice >= 50000
          AND lon >= -60.0 AND lon <= 60.0 AND lat >= -45.0 AND lat <= 45.0
    """,
)
def stored_query_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.plans.solr_query import qid_predicate

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    recs = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        (F.pmod(k, F.lit(180)) - 90 + 0.5).alias("lat"),
        (F.pmod(k, F.lit(360)) - 180 + 0.25).alias("lon"),
    )
    pred = qid_predicate(
        q="o_orderpriority:2-HIGH",
        fqs=["o_totalprice:[50000 TO *]"],
        bbox=[-60.0, -45.0, 60.0, 45.0],
        lat_col="lat",
        lon_col="lon",
    )
    return recs.filter(pred).select("o_orderkey", "o_orderpriority", "lat", "lon")


@register(
    "validation_rule_wkt",
    doc=(
        "WKT-scoped validation rule (qa/ValidationRuleRunner.scala:151-260 "
        "applyCommon/modifyList with model/Qid.scala:9's wkt): an L-shaped "
        "polygon rule applied as assert/unassert delta against a previous "
        "application. The polygon ray-cast unrolls into a static "
        "sum-of-crossings Column expression (plans/solr_query."
        "wkt_predicate) and the oracle evaluates the IDENTICAL arithmetic "
        "via wkt_predicate_sql — no geometry library on either side."
    ),
    oracle=_wkt_oracle_sql(),
)
def validation_rule_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.validation_rules import (
        ValidationRule,
        apply_rule_delta,
    )

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    recs = customer.select(
        F.concat(F.lit("c"), k.cast("string")).alias("record_id"),
        F.col("c_mktsegment").alias("segment"),
        (F.pmod(k, F.lit(80)) - 40 + 0.3).alias("lat"),
        (F.pmod(k, F.lit(160)) - 80 + 0.7).alias("lon"),
        k.alias("k"),
    )
    rule = ValidationRule(
        rule_id="vr-wkt-1",
        query="segment:BUILDING",
        assertion_code=20050,
        assertion_name="userAssertionOther",
        wkt=_WKT_RULE_POLY,
        lat_col="lat",
        lon_col="lon",
    )
    prev = recs.filter(F.pmod(F.col("k"), F.lit(4)) == 0).select("record_id")
    return apply_rule_delta(recs, rule, previously_asserted=prev, id_col="record_id")


@register(
    "user_assertion_lifecycle",
    doc=(
        "User-assertion workflow (operators/user_assertions.py — "
        "Store.scala:332-412, dao/OccurrenceDAOImpl.scala:892-1160): add a "
        "user assertion per record (+ a second for odd keys), admin "
        "verifications (VERIFIED for key%3==0, a later OPEN_ISSUE "
        "verification for key%5==0), delete the primary assertion for "
        "key%7==0, then recompute the combined per-record status "
        "(getCombinedUserStatus 5-state machine incl. the open-issue "
        "reopen) and overlay it on the records table (QA_NONE default). "
        "Deleting an assertion CASCADES to verifications pointing at it "
        "(an orphaned verification must not keep driving the status), so "
        "the oracle's v1/v2 are the EFFECTIVE verification flags — false "
        "when the verified assertion was deleted."
    ),
    oracle="""
        WITH f AS (
            SELECT c_custkey AS k,
                   (c_custkey % 7 <> 0) AS hasA,
                   (c_custkey % 2 = 1) AS hasB,
                   (c_custkey % 3 = 0 AND c_custkey % 7 <> 0) AS v1,
                   (c_custkey % 5 = 0 AND c_custkey % 7 <> 0) AS v2
            FROM customer
        ),
        calc AS (
            SELECT k, hasA,
                   (CASE WHEN hasA AND NOT (v1 OR v2) THEN 1 ELSE 0 END
                    + CASE WHEN hasB THEN 1 ELSE 0 END) AS base,
                   CASE WHEN v2 THEN 50001
                        WHEN v1 THEN 50002 END AS latest,
                   v2 AS any_open
            FROM f
        )
        SELECT 'c' || CAST(k AS VARCHAR) AS rowKey,
               CASE WHEN base > 0 THEN 50005
                    WHEN any_open THEN 50001
                    WHEN latest IS NOT NULL THEN latest
                    ELSE 50004 END AS user_assertion_status,
               CASE WHEN base > 0 THEN base
                    WHEN any_open THEN 1 ELSE 0 END AS outstanding_count,
               CASE WHEN base = 0 AND NOT any_open AND latest = 50002
                    THEN 1 ELSE 0 END AS user_verified
        FROM calc
    """,
)
def user_assertion_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.user_assertions import (
        QA_OPEN_ISSUE,
        QA_VERIFIED,
        add_user_assertions,
        delete_user_assertions,
        empty_store,
        overlay_user_status,
    )

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    row_key = F.concat(F.lit("c"), k.cast("string"))

    def qa(uuid, code, status, related, rec_num):
        return F.struct(
            row_key.alias("rowKey"),
            uuid.alias("uuid"),
            F.lit(code).cast("int").alias("code"),
            status.cast("int").alias("qa_status"),
            F.lit("").alias("comment"),
            F.lit("user1").alias("user_id"),
            related.alias("related_uuid"),
            F.lit(rec_num).cast("int").alias("record_num"),
        )

    a_uuid = F.concat(F.lit("a"), k.cast("string"))
    base_rows = customer.select(
        F.when(
            F.pmod(k, F.lit(2)) == 1,
            F.array(
                qa(a_uuid, 10, F.lit(0), F.lit(None).cast("string"), 0),
                qa(F.concat(F.lit("b"), k.cast("string")), 11, F.lit(0),
                   F.lit(None).cast("string"), 0),
            ),
        )
        .otherwise(
            F.array(qa(a_uuid, 10, F.lit(0), F.lit(None).cast("string"), 0))
        )
        .alias("qas")
    ).select(F.explode("qas").alias("qa")).select("qa.*")

    verif_rows = (
        customer.select(
            F.when(
                (F.pmod(k, F.lit(3)) == 0) & (F.pmod(k, F.lit(5)) == 0),
                F.array(
                    qa(F.concat(F.lit("v1-"), k.cast("string")), 50000,
                       F.lit(QA_VERIFIED), a_uuid, 1),
                    qa(F.concat(F.lit("v2-"), k.cast("string")), 50000,
                       F.lit(QA_OPEN_ISSUE), a_uuid, 2),
                ),
            )
            .when(
                F.pmod(k, F.lit(3)) == 0,
                F.array(qa(F.concat(F.lit("v1-"), k.cast("string")), 50000,
                           F.lit(QA_VERIFIED), a_uuid, 1)),
            )
            .when(
                F.pmod(k, F.lit(5)) == 0,
                F.array(qa(F.concat(F.lit("v2-"), k.cast("string")), 50000,
                           F.lit(QA_OPEN_ISSUE), a_uuid, 2)),
            )
            .otherwise(F.array().cast(
                "array<struct<rowKey:string,uuid:string,code:int,"
                "qa_status:int,comment:string,user_id:string,"
                "related_uuid:string,record_num:int>>"
            ))
            .alias("qas")
        )
        .select(F.explode("qas").alias("qa"))
        .select("qa.*")
    )

    store = add_user_assertions(empty_store(spark), base_rows)
    store = add_user_assertions(store, verif_rows)
    deletes = customer.filter(F.pmod(k, F.lit(7)) == 0).select(
        row_key.alias("rowKey"), a_uuid.alias("uuid")
    )
    store = delete_user_assertions(store, deletes)

    records = customer.select(row_key.alias("rowKey"))
    out = overlay_user_status(records, store)
    return out.select(
        "rowKey",
        "user_assertion_status",
        F.col("outstanding_count").cast("long").alias("outstanding_count"),
        F.col("user_verified").cast("int").alias("user_verified"),
    )


@register(
    "chain_hybrid",
    doc=(
        "The record chain's vocabulary stages (processors/chain."
        "process_records, one memoized per-record pass): basisOfRecord "
        "(BasisOfRecordProcessor.scala:22-41), typeStatus "
        "(TypeStatusProcessor.scala:26-47), occurrenceStatus and "
        "establishmentMeans (MiscellaneousProcessor.scala:21-178), matched "
        "through the vocabulary caches (the reference's LRU caches). "
        "Exercises the default-value suppression path (blank basisOfRecord "
        "+ per-resource default) plus all four vocab stages; the oracle "
        "replays the canonicalization in SQL."
    ),
    oracle="""
        SELECT p_partkey,
               CASE
                 WHEN p_partkey % 5 = 4 THEN 'HumanObservation'  -- default applied
                 WHEN p_partkey % 5 = 3 THEN NULL                -- unrecognised
                 WHEN p_partkey % 5 = 2 THEN 'PreservedSpecimen' -- 'S' variant
                 WHEN p_partkey % 5 = 1 THEN 'MachineObservation'
                 ELSE 'PreservedSpecimen'
               END AS basis_of_record,
               CASE p_partkey % 4
                 WHEN 0 THEN 'holotype'
                 WHEN 1 THEN 'holotype'
                 WHEN 2 THEN 'paratype|syntype'
               END AS type_status,
               CASE p_partkey % 3
                 WHEN 0 THEN 'native'
                 WHEN 1 THEN 'introduced; native'
               END AS establishment_means,
               CASE p_partkey % 4
                 WHEN 1 THEN 'absent'
                 WHEN 3 THEN 'unknown'
                 ELSE 'present'
               END AS occurrence_status,
               CASE WHEN p_partkey % 5 = 3 THEN 1 ELSE 0 END
                 AS n_bor_failed
        FROM part
    """,
)
def chain_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.chain import process_records

    part = read_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    bor = F.pmod(k, F.lit(5))
    ts = F.pmod(k, F.lit(4))
    em = F.pmod(k, F.lit(3))
    occ = part.select(
        "p_partkey",
        # %5==4 blank with a default resource; %5==3 unrecognised junk
        F.when(bor == 0, F.lit("PreservedSpecimen"))
        .when(bor == 1, F.lit("machine observation"))
        .when(bor == 2, F.lit("S"))
        .when(bor == 3, F.lit("garbage-bor"))
        .otherwise(F.lit(""))
        .alias("basisOfRecord"),
        F.when(bor == 4, F.lit("drDefault")).otherwise(F.lit("drPlain")).alias(
            "dataResourceUid"
        ),
        F.when(ts == 0, F.lit("holotype"))
        .when(ts == 1, F.lit("HOLOTYPUS material"))
        .when(ts == 2, F.lit("paratype and syntype"))
        .otherwise(F.lit(""))
        .alias("typeStatus"),
        F.when(em == 0, F.lit("native"))
        .when(em == 1, F.lit("naturalised; indigenous"))
        .otherwise(F.lit("garbage"))
        .alias("establishmentMeans"),
        F.when(ts == 0, F.lit("present"))
        .when(ts == 1, F.lit("absent"))
        .when(ts == 2, F.lit(""))
        .otherwise(F.lit("zzz-no-such-status"))
        .alias("occurrenceStatus"),
    )
    out = process_records(
        occ,
        default_values_by_resource={"drDefault": {"basisOfRecord": "HumanObservation"}},
    )
    # failed (qa_status=0) missing/badly-formed BoR assertions: the blank
    # basisOfRecord with a resource default must NOT produce one
    bor_failed = F.size(
        F.filter(
            F.col("assertions"),
            lambda a: F.array_contains(F.array(F.lit(20001), F.lit(20002)), a["code"])
            & (a["qa_status"] == 0),
        )
    )
    return out.select(
        "p_partkey",
        F.col("processed")["basisOfRecord"].alias("basis_of_record"),
        F.col("processed")["typeStatus"].alias("type_status"),
        F.col("processed")["establishmentMeans"].alias("establishment_means"),
        F.col("processed")["occurrenceStatus"].alias("occurrence_status"),
        bor_failed.cast("int").alias("n_bor_failed"),
    )


@register(
    "raw_processed_comparison",
    doc=(
        "Raw-vs-processed long-format comparison (store.get_comparison — "
        "Store.scala:92-125) over chain output: per record, one row per "
        "compared field with the verbatim and processed values side by "
        "side; filtered here to the basisOfRecord/occurrenceStatus fields "
        "whose canonicalization the oracle replays."
    ),
    oracle="""
        SELECT 'c' || CAST(c_custkey AS VARCHAR) AS rowKey,
               'basisOfRecord' AS field,
               CASE c_custkey % 4
                 WHEN 0 THEN 'PreservedSpecimen' WHEN 1 THEN 'HumanObservation'
                 WHEN 2 THEN 'S' ELSE 'MachineObservation' END AS raw,
               CASE c_custkey % 4
                 WHEN 0 THEN 'PreservedSpecimen' WHEN 1 THEN 'HumanObservation'
                 WHEN 2 THEN 'PreservedSpecimen'
                 ELSE 'MachineObservation' END AS processed
        FROM customer
        UNION ALL
        SELECT 'c' || CAST(c_custkey AS VARCHAR),
               'occurrenceStatus',
               CASE c_custkey % 3
                 WHEN 0 THEN 'present' WHEN 1 THEN 'absent' ELSE '' END,
               CASE c_custkey % 3
                 WHEN 1 THEN 'absent' ELSE 'present' END
        FROM customer
    """,
)
def raw_processed_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.chain import process_records
    from biocache_store_spark.store import get_comparison

    customer = read_table(spark, sf_dir, "customer")
    bor = F.pmod(F.col("c_custkey"), F.lit(4))
    ost = F.pmod(F.col("c_custkey"), F.lit(3))
    occ = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("rowKey"),
        F.when(bor == 0, F.lit("PreservedSpecimen"))
        .when(bor == 1, F.lit("HumanObservation"))
        .when(bor == 2, F.lit("S"))
        .otherwise(F.lit("MachineObservation"))
        .alias("basisOfRecord"),
        F.when(ost == 0, F.lit("present"))
        .when(ost == 1, F.lit("absent"))
        .otherwise(F.lit(""))
        .alias("occurrenceStatus"),
    )
    cmp_df = get_comparison(process_records(occ), key_col="rowKey")
    return cmp_df.filter(
        F.col("field").isin("basisOfRecord", "occurrenceStatus")
    ).select("rowKey", "field", "raw", "processed")


@register(
    "assertion_rollup",
    doc=(
        "System-assertion roll-up (store.get_all_system_assertions — "
        "Store.scala:301-317 over the chain's assertion array): records in "
        "three quality classes run through process_records, assertions "
        "exploded and failed counts rolled up per code for the vocabulary "
        "QA family (missing/badly-formed basisOfRecord, unrecognised "
        "type/occurrence status, assumed-present)."
    ),
    oracle="""
        SELECT 20001 AS code, 'missingBasisOfRecord' AS name,
               COUNT(*) AS failed_count
        FROM customer WHERE c_custkey % 3 = 1
        UNION ALL
        SELECT 20018, 'assumedPresentOccurrenceStatus', COUNT(*)
        FROM customer WHERE c_custkey % 3 = 1
        UNION ALL
        SELECT 20002, 'badlyFormedBasisOfRecord', COUNT(*)
        FROM customer WHERE c_custkey % 3 = 2
        UNION ALL
        SELECT 20004, 'unrecognisedTypeStatus', COUNT(*)
        FROM customer WHERE c_custkey % 3 = 2
        UNION ALL
        SELECT 20017, 'unrecognisedOccurrenceStatus', COUNT(*)
        FROM customer WHERE c_custkey % 3 = 2
    """,
)
def assertion_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.processors.chain import process_records
    from biocache_store_spark.store import get_all_system_assertions

    customer = read_table(spark, sf_dir, "customer")
    cls = F.pmod(F.col("c_custkey"), F.lit(3))
    occ = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("rowKey"),
        F.when(cls == 0, F.lit("PreservedSpecimen")).otherwise(
            F.when(cls == 1, F.lit("")).otherwise(F.lit("junkbor"))
        ).alias("basisOfRecord"),
        F.when(cls == 0, F.lit("holotype")).otherwise(
            F.when(cls == 1, F.lit("")).otherwise(F.lit("junkts"))
        ).alias("typeStatus"),
        F.when(cls == 0, F.lit("present")).otherwise(
            F.when(cls == 1, F.lit("")).otherwise(F.lit("junkost"))
        ).alias("occurrenceStatus"),
    )
    exploded = get_all_system_assertions(process_records(occ), key_col="rowKey")
    return (
        exploded.filter(
            F.col("code").isin(20001, 20002, 20004, 20017, 20018)
            & (F.col("qa_status") == 0)
        )
        .groupBy("code", "name")
        .agg(F.count(F.lit(1)).alias("failed_count"))
    )


# ---------------------------------------------------------------------------
# Multimodal decode plumbing
# ---------------------------------------------------------------------------


@register(
    "media_decode_meta",
    doc=(
        "Multimodal media plumbing (operators/multimodal.py — "
        "load/MediaStore.scala:34-171 generalized): documents' text bytes "
        "as binary content, MD5 content-hash dedup (min media_id "
        "representative), then the Arrow-batched decode stage producing "
        "content_length and the deterministic sha256-derived feature "
        "vector. The oracle recomputes md5/sha256 and the nibble "
        "arithmetic in SQL."
    ),
    oracle="""
        WITH media AS (
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   md5(text) AS content_hash,
                   octet_length(encode(text)) AS content_length,
                   sha256(text) AS h
            FROM documents
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY md5(text) ORDER BY 'm' || CAST(doc_id AS VARCHAR)
            ) = 1
        )
        SELECT media_id, content_hash, content_length,
               ((strpos('0123456789abcdef', h[1:1]) - 1) * 16
                + strpos('0123456789abcdef', h[2:2]) - 1) / 255.0 AS f0,
               ((strpos('0123456789abcdef', h[3:3]) - 1) * 16
                + strpos('0123456789abcdef', h[4:4]) - 1) / 255.0 AS f1,
               ((strpos('0123456789abcdef', h[5:5]) - 1) * 16
                + strpos('0123456789abcdef', h[6:6]) - 1) / 255.0 AS f2,
               ((strpos('0123456789abcdef', h[7:7]) - 1) * 16
                + strpos('0123456789abcdef', h[8:8]) - 1) / 255.0 AS f3
        FROM media
    """,
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.multimodal import decode_media, dedup_media

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("record_id"),
        F.lit("image").alias("media_type"),
        F.lit("image/png").alias("mime_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("string").alias("creator"),
            F.lit(None).cast("string").alias("license"),
        ).alias("metadata"),
    )
    decoded = decode_media(dedup_media(media))
    return decoded.select(
        "media_id",
        "content_hash",
        "content_length",
        F.element_at(F.col("features"), 1).alias("f0"),
        F.element_at(F.col("features"), 2).alias("f1"),
        F.element_at(F.col("features"), 3).alias("f2"),
        F.element_at(F.col("features"), 4).alias("f3"),
    )


@register(
    "media_thumbnail_sizes",
    doc=(
        "Thumbnail rendition planning (operators/multimodal.py "
        "thumbnail_media — load/Thumbnailer.scala:77-130 + "
        "MediaStore.scala:903-919): every image fans out to thumb/small/"
        "large renditions; dimensions follow the reference's max-edge "
        "scaling arithmetic exactly (copy-unchanged when both edges are "
        "already under the target, else scale by edge/max(w,h) with "
        "truncation). Image dims are synthesized deterministically from "
        "doc_id; the oracle reproduces the arithmetic per rendition in "
        "SQL, so any drift in the scaling ladder breaks the hash."
    ),
    oracle="""
        WITH dims AS (
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(50 + doc_id % 900 AS INTEGER) AS w,
                   CAST(40 + doc_id % 700 AS INTEGER) AS h
            FROM documents
        ),
        sizes(size_name, edge) AS (
            VALUES ('thumb', CAST(100 AS DOUBLE)),
                   ('small', CAST(314 AS DOUBLE)),
                   ('large', CAST(650 AS DOUBLE))
        ),
        fan AS (SELECT * FROM dims CROSS JOIN sizes)
        SELECT media_id, size_name,
               CASE WHEN h < edge AND w < edge THEN w
                    ELSE CAST(FLOOR(w * (edge / GREATEST(w, h))) AS INTEGER)
               END AS width,
               CASE WHEN h < edge AND w < edge THEN h
                    ELSE CAST(FLOOR(h * (edge / GREATEST(w, h))) AS INTEGER)
               END AS height,
               NOT (h < edge AND w < edge) AS resized
        FROM fan
    """,
)
def media_thumbnail_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.multimodal import thumbnail_media

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("record_id"),
        F.lit("image").alias("media_type"),
        F.lit("image/png").alias("mime_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit(None).cast("string").alias("url"),
            (F.lit(50) + F.col("doc_id") % 900).cast("int").alias("width"),
            (F.lit(40) + F.col("doc_id") % 700).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("string").alias("creator"),
            F.lit(None).cast("string").alias("license"),
        ).alias("metadata"),
    )
    return thumbnail_media(media).select(
        "media_id", "size_name", "width", "height", "resized"
    )


@register(
    "exif_metadata",
    doc=(
        "EXIF GPS coordinate + timestamp extraction "
        "(operators/multimodal.py exif_metadata — util/EXIF.scala:34-60) "
        "as an Arrow-batched media column op: documents' text bytes as "
        "image content, the deterministic digest-driven fake EXIF "
        "directory (byte 0 gates the GPS directory, reference returns "
        "None without one), then the reference's EXACT DMS arithmetic — "
        "abs() on latitude components, S-ref negation, and the "
        "longitude-sign bug kept for parity (EXIF.scala:57 reads the "
        "LATITUDE ref, which is never 'W', so longitude is never "
        "negated). The oracle recomputes the sha256 byte extraction and "
        "the arithmetic in SQL, so any drift in the formula or the "
        "directory gating breaks the hash."
    ),
    oracle="""
        WITH media AS (
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   sha256(text) AS h
            FROM documents
        ),
        b AS (
            SELECT media_id,
                   list_transform(range(1, 17),
                       i -> (strpos('0123456789abcdef', h[2*i-1:2*i-1]) - 1) * 16
                            + strpos('0123456789abcdef', h[2*i:2*i]) - 1) AS bt
            FROM media
        ),
        gps AS (
            SELECT media_id, bt,
                   bt[1] % 4 <> 0 AS has_gps,
                   CASE WHEN bt[2] % 2 = 1 THEN 'S' ELSE 'N' END AS lat_ref,
                   CAST(bt[4] % 90 AS DOUBLE) AS la_deg,
                   CAST(bt[5] % 60 AS DOUBLE) AS la_min,
                   CAST(bt[6] % 60 AS DOUBLE) AS la_sec,
                   CAST(bt[7] % 180 AS DOUBLE) AS lo_deg,
                   CAST(bt[8] % 60 AS DOUBLE) AS lo_min,
                   CAST(bt[9] % 60 AS DOUBLE) AS lo_sec
            FROM b
        )
        SELECT media_id,
               has_gps,
               CASE WHEN has_gps THEN
                   (la_deg + ((la_min * 60 + la_sec) / CAST(3600 AS DOUBLE)))
                   * (CASE WHEN lat_ref = 'S' THEN CAST(-1 AS DOUBLE)
                           ELSE CAST(1 AS DOUBLE) END)
               END AS exif_latitude,
               -- the reference's longitude sign reads the LATITUDE ref
               -- (EXIF.scala:57), which is only ever N/S: always +1
               CASE WHEN has_gps THEN
                   lo_deg + ((lo_min * 60 + lo_sec) / CAST(3600 AS DOUBLE))
               END AS exif_longitude,
               CASE WHEN has_gps AND bt[10] % 5 <> 0 THEN
                   strftime(make_timestamp(
                       2000 + bt[11] % 20, 1 + bt[12] % 12, 1 + bt[13] % 28,
                       bt[14] % 24, bt[15] % 60, CAST(bt[16] % 60 AS DOUBLE)),
                       '%Y-%m-%d %H:%M:%S')
               END AS exif_datetime
        FROM gps
    """,
)
def exif_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.multimodal import exif_metadata

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("record_id"),
        F.lit("image").alias("media_type"),
        F.lit("image/jpeg").alias("mime_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("string").alias("creator"),
            F.lit(None).cast("string").alias("license"),
        ).alias("metadata"),
    )
    return exif_metadata(media).select(
        "media_id", "has_gps", "exif_latitude", "exif_longitude",
        "exif_datetime",
    )


@register(
    "dwca_roundtrip",
    doc=(
        "Darwin Core Archive round trip under the external hash gate, "
        "WITH the GBIF Multimedia extension: occurrence-shaped records "
        "synthesized from customer are written as a DwC-A zip "
        "(exports/exporters.py create_dwca — meta.xml + eml + "
        "occurrence.csv + image.csv, export/DwCACreator.scala:407-494), "
        "the zip is extracted and re-loaded through the archive loader "
        "(sources/dwca.py load_archive — meta.xml-driven star schema, "
        "load/DwCALoader.scala), and the loaded rows are returned in "
        "long form (one row per record x media, media-less records with "
        "NULL media columns). Even-key records carry one image, "
        "mod-4 records a second — so the extension fan-out, the coreid "
        "link and the media-less left join are all under the hash. The "
        "oracle derives the same relation straight from customer."
    ),
    oracle="""
        WITH recs AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS occurrenceID,
                   'Species ' || CAST(c_custkey % 50 AS VARCHAR) AS scientificName,
                   CASE c_custkey % 3 WHEN 0 THEN 'PreservedSpecimen'
                                      WHEN 1 THEN 'HumanObservation'
                                      ELSE 'MachineObservation' END AS basisOfRecord,
                   c_mktsegment AS locality
            FROM customer
        ),
        media AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS occurrenceID,
                   'http://media/m' || CAST(c_custkey AS VARCHAR) || '-1'
                       AS media_identifier,
                   'image/jpeg' AS media_format,
                   'CC-BY 4.0' AS media_license
            FROM customer WHERE c_custkey % 2 = 0
            UNION ALL
            SELECT 'c' || CAST(c_custkey AS VARCHAR),
                   'http://media/m' || CAST(c_custkey AS VARCHAR) || '-2',
                   'image/png',
                   'CC-BY-NC 4.0'
            FROM customer WHERE c_custkey % 4 = 0
        )
        SELECT r.occurrenceID, r.scientificName, r.basisOfRecord, r.locality,
               m.media_identifier, m.media_format, m.media_license
        FROM recs r LEFT JOIN media m ON r.occurrenceID = m.occurrenceID
    """,
)
def dwca_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import zipfile

    from biocache_store_spark.exports.exporters import create_dwca
    from biocache_store_spark.sources.dwca import load_archive

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    shape = F.pmod(k, F.lit(3))
    recs = customer.select(
        F.concat(F.lit("c"), k.cast("string")).alias("occurrenceID"),
        F.concat(
            F.lit("Species "), F.pmod(k, F.lit(50)).cast("string")
        ).alias("scientificName"),
        F.when(shape == 0, "PreservedSpecimen")
        .when(shape == 1, "HumanObservation")
        .otherwise("MachineObservation")
        .alias("basisOfRecord"),
        F.col("c_mktsegment").alias("locality"),
    )
    media_one = customer.filter(F.pmod(k, F.lit(2)) == 0).select(
        F.concat(F.lit("c"), k.cast("string")).alias("occurrenceID"),
        F.concat(
            F.lit("http://media/m"), k.cast("string"), F.lit("-1")
        ).alias("identifier"),
        F.lit("image/jpeg").alias("format"),
        F.lit("CC-BY 4.0").alias("license"),
    )
    media_two = customer.filter(F.pmod(k, F.lit(4)) == 0).select(
        F.concat(F.lit("c"), k.cast("string")).alias("occurrenceID"),
        F.concat(
            F.lit("http://media/m"), k.cast("string"), F.lit("-2")
        ).alias("identifier"),
        F.lit("image/png").alias("format"),
        F.lit("CC-BY-NC 4.0").alias("license"),
    )
    work = tempfile.mkdtemp(prefix="dwca_rt_")
    zip_path = work + "/archive.zip"
    create_dwca(
        recs,
        ["occurrenceID", "scientificName", "basisOfRecord", "locality"],
        zip_path,
        multimedia=media_one.unionByName(media_two),
        core_id_col="occurrenceID",
    )
    extract_dir = work + "/extracted"
    with zipfile.ZipFile(zip_path) as zf:
        zf.extractall(extract_dir)
    loaded = load_archive(
        spark, extract_dir, "dr-roundtrip", unique_terms=["occurrenceID"]
    )
    m = F.explode_outer("multimedia").alias("m")
    return loaded.select(
        "occurrenceID", "scientificName", "basisOfRecord", "locality", m
    ).select(
        "occurrenceID",
        "scientificName",
        "basisOfRecord",
        "locality",
        F.col("m.identifier").alias("media_identifier"),
        F.col("m.format").alias("media_format"),
        F.col("m.license").alias("media_license"),
    )


@register(
    "dwca_event_core_roundtrip",
    doc=(
        "Event-core (GBIF sampling-event) Darwin Core Archive round trip: "
        "events synthesized from customer and occurrences from orders are "
        "written as an Event-core archive with an Occurrence extension "
        "(exports/exporters.py create_event_dwca), then re-loaded through "
        "load_archive, which must choose the event-core path "
        "(sources/dwca.py _load_event_core — EventCoreExtractor parity, "
        "load/DwCALoader.scala:522-600, extractor choice :194-197). Under "
        "the hash: the occurrence-extension fan-out (each extension row = "
        "one record), parent-event term inheritance (eventDate, "
        "stateProvince), the last-wins conflict rule on `locality` (a "
        "non-blank EVENT value overrides the occurrence value; a blank "
        "event value falls back to the occurrence value; blank-on-both = "
        "NULL — the reference's recordTuples++eventTuples toMap with "
        "isNotBlank guards), orphan occurrence rows (coreid matching no "
        "event, every o_orderkey%100==0) dropped by the star join, and "
        "events without occurrences emitting nothing. The oracle derives "
        "the same relation straight from orders x customer."
    ),
    oracle="""
        WITH ev AS (
            SELECT 'e' || CAST(c_custkey AS VARCHAR) AS event_key,
                   '2020-' || lpad(CAST(1 + c_custkey % 12 AS VARCHAR),
                                   2, '0') AS event_date,
                   CASE WHEN c_custkey % 5 = 0 THEN ''
                        ELSE c_mktsegment END AS ev_locality,
                   'State ' || CAST(c_custkey % 8 AS VARCHAR)
                       AS state_province
            FROM customer
        ),
        occ AS (
            SELECT CASE WHEN o_orderkey % 100 = 0
                        THEN 'orphan-' || CAST(o_orderkey AS VARCHAR)
                        ELSE 'e' || CAST(o_custkey AS VARCHAR)
                   END AS event_key,
                   'o' || CAST(o_orderkey AS VARCHAR) AS occurrence_id,
                   'Species ' || CAST(o_orderkey % 50 AS VARCHAR)
                       AS scientific_name,
                   CASE WHEN o_orderkey % 3 = 0
                        THEN 'occ-loc-' || CAST(o_orderkey % 11 AS VARCHAR)
                        ELSE '' END AS occ_locality
            FROM orders
        )
        SELECT o.event_key, o.occurrence_id, o.scientific_name,
               e.event_date,
               COALESCE(NULLIF(TRIM(e.ev_locality), ''),
                        NULLIF(TRIM(o.occ_locality), '')) AS locality,
               e.state_province
        FROM occ o JOIN ev e ON o.event_key = e.event_key
    """,
)
def dwca_event_core_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import zipfile

    from biocache_store_spark.exports.exporters import create_event_dwca
    from biocache_store_spark.sources.dwca import load_archive

    customer = read_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    events = customer.select(
        F.concat(F.lit("e"), ck.cast("string")).alias("eventID"),
        F.concat(
            F.lit("2020-"),
            F.lpad((F.lit(1) + F.pmod(ck, F.lit(12))).cast("string"), 2, "0"),
        ).alias("eventDate"),
        # %5==0 events carry a BLANK locality: the conflict rule must
        # fall back to the occurrence-side value for those
        F.when(F.pmod(ck, F.lit(5)) == 0, F.lit("")).otherwise(
            F.col("c_mktsegment")
        ).alias("locality"),
        F.concat(F.lit("State "), F.pmod(ck, F.lit(8)).cast("string")).alias(
            "stateProvince"
        ),
    )
    orders = read_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    occurrences = orders.select(
        # every 100th occurrence is an orphan: its coreid matches no
        # event row, so the star join must drop it
        F.when(
            F.pmod(ok, F.lit(100)) == 0,
            F.concat(F.lit("orphan-"), ok.cast("string")),
        )
        .otherwise(F.concat(F.lit("e"), F.col("o_custkey").cast("string")))
        .alias("coreid"),
        F.concat(F.lit("o"), ok.cast("string")).alias("occurrenceID"),
        F.concat(
            F.lit("Species "), F.pmod(ok, F.lit(50)).cast("string")
        ).alias("scientificName"),
        F.when(
            F.pmod(ok, F.lit(3)) == 0,
            F.concat(F.lit("occ-loc-"), F.pmod(ok, F.lit(11)).cast("string")),
        )
        .otherwise(F.lit(""))
        .alias("locality"),
    )
    work = tempfile.mkdtemp(prefix="dwca_event_rt_")
    zip_path = work + "/archive.zip"
    create_event_dwca(
        events,
        ["eventDate", "locality", "stateProvince"],
        occurrences,
        ["occurrenceID", "scientificName", "locality"],
        zip_path,
        event_id_col="eventID",
        core_id_col="coreid",
    )
    extract_dir = work + "/extracted"
    with zipfile.ZipFile(zip_path) as zf:
        zf.extractall(extract_dir)
    loaded = load_archive(
        spark, extract_dir, "dr-event-rt", unique_terms=["occurrenceID"]
    )
    return loaded.select(
        F.col("coreID").alias("event_key"),
        F.col("occurrenceID").alias("occurrence_id"),
        F.col("scientificName").alias("scientific_name"),
        F.col("eventDate").alias("event_date"),
        "locality",
        F.col("stateProvince").alias("state_province"),
    )


@register(
    "endemism_density_layers",
    doc=(
        "Calculated spatial layers (operators/calculated_layers.py — "
        "tool/CalculatedLayerHelper.scala's endemism tool): per grid "
        "cell, occurrence density, species richness and weighted "
        "endemism = sum over the cell's species of 1/(cells the species "
        "occupies), in integer micro-units (floor(1e6/n_cells) addends "
        "make the per-cell sum an INTEGER sum — bit-identical under any "
        "partitioning/engine, unlike a float reciprocal sum). The "
        "reference's per-species SOLR facet walk with driver-memory "
        "cell maps becomes three aggregations; the fixture derives "
        "species and cells from customer so single-cell endemics and "
        "cosmopolitan species both occur."
    ),
    oracle="""
        WITH occ AS (
            SELECT 'sp' || CAST(c_custkey % 40 AS VARCHAR) AS species,
                   CAST(c_custkey % 10 AS VARCHAR) || ','
                       || CAST(c_custkey % 7 AS VARCHAR) AS cell
            FROM customer
        ),
        pairs AS (SELECT DISTINCT species, cell FROM occ),
        scc AS (
            SELECT species, COUNT(*) AS n_cells FROM pairs GROUP BY species
        ),
        cell_stats AS (
            SELECT cell, COUNT(DISTINCT species) AS n_species,
                   COUNT(*) AS n_occurrences
            FROM occ GROUP BY cell
        ),
        endem AS (
            SELECT p.cell,
                   CAST(SUM(CAST(FLOOR(CAST(1000000 AS DOUBLE) / s.n_cells)
                                 AS BIGINT)) AS BIGINT) AS endemism_micro
            FROM pairs p JOIN scc s ON p.species = s.species
            GROUP BY p.cell
        )
        SELECT c.cell, c.n_species, c.n_occurrences, e.endemism_micro
        FROM cell_stats c JOIN endem e ON c.cell = e.cell
    """,
)
def endemism_density_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.calculated_layers import (
        calculated_layers,
    )

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    occ = customer.select(
        F.concat(F.lit("sp"), F.pmod(k, F.lit(40)).cast("string")).alias(
            "species_guid"
        ),
        F.concat(
            F.pmod(k, F.lit(10)).cast("string"),
            F.lit(","),
            F.pmod(k, F.lit(7)).cast("string"),
        ).alias("cell"),
    )
    return calculated_layers(occ).select(
        "cell", "n_species", "n_occurrences", "endemism_micro"
    )


@register(
    "media_reference_rollup",
    doc=(
        "Media-reference rebuild (operators/multimodal.py "
        "media_references — tool/LoadMediaReferences.scala:55-80 mime "
        "bucketing): a media store synthesized from customer (4 media "
        "rows per record, mime class by key mod 3) rolls up to sorted "
        "per-record images/sounds/videos arrays, exploded back to long "
        "form for hash-stable comparison."
    ),
    oracle="""
        WITH store AS (
            SELECT 'r' || CAST(c_custkey // 4 AS VARCHAR) AS record_id,
                   'm' || CAST(c_custkey AS VARCHAR) AS media_id,
                   CASE c_custkey % 3
                        WHEN 0 THEN 'image/jpeg'
                        WHEN 1 THEN 'audio/mpeg'
                        ELSE 'video/mp4' END AS mime_type
            FROM customer
        )
        SELECT record_id,
               CASE WHEN mime_type LIKE 'image%' THEN 'images'
                    WHEN mime_type LIKE 'audio%' THEN 'sounds'
                    ELSE 'videos' END AS media_class,
               media_id
        FROM store
    """,
)
def media_reference_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.multimodal import media_references

    customer = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    store = customer.select(
        F.concat(F.lit("r"), (k / 4).cast("long").cast("string")).alias("record_id"),
        F.concat(F.lit("m"), k.cast("string")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image/jpeg"), F.lit("audio/mpeg"), F.lit("video/mp4")),
            (F.pmod(k, F.lit(3)) + 1).cast("int"),
        ).alias("mime_type"),
    )
    refs = media_references(store)
    classes = F.array(
        F.struct(F.lit("images").alias("cls"), F.col("images").alias("ids")),
        F.struct(F.lit("sounds").alias("cls"), F.col("sounds").alias("ids")),
        F.struct(F.lit("videos").alias("cls"), F.col("videos").alias("ids")),
    )
    return (
        refs.select("record_id", F.explode(classes).alias("c"))
        .select(
            "record_id",
            F.col("c.cls").alias("media_class"),
            F.explode("c.ids").alias("media_id"),
        )
    )


@register(
    "text_embedding_vectors",
    doc=(
        "Deterministic text-embedding kernel (operators/inference.py "
        "batch_embed + fake_embedding_model): md5-derived 4-dim unit "
        "vectors computed in an Arrow-batched mapInPandas pass with "
        "once-per-partition model load. The oracle replays the exact "
        "arithmetic — hex-digit reconstruction of the four 32-bit digest "
        "words, fixed-order norm, float32 storage truncation — so the "
        "whole embed path is value-hash-checkable, not just row-counted."
    ),
    oracle="""
        WITH h AS (
            SELECT doc_id, md5(COALESCE(text, '')) AS hx FROM documents
        ),
        comps AS (
            SELECT doc_id, i,
                   SUM((strpos('0123456789abcdef', substr(hx, 8*i + k, 1)) - 1)
                       * POWER(16, 8 - k)) / 4294967296.0 - 0.5 AS c
            FROM h,
                 UNNEST(generate_series(0, 3)) AS t(i),
                 UNNEST(generate_series(1, 8)) AS u(k)
            GROUP BY doc_id, i
        ),
        wide AS (
            SELECT doc_id,
                   MAX(CASE WHEN i = 0 THEN c END) AS c0,
                   MAX(CASE WHEN i = 1 THEN c END) AS c1,
                   MAX(CASE WHEN i = 2 THEN c END) AS c2,
                   MAX(CASE WHEN i = 3 THEN c END) AS c3
            FROM comps GROUP BY doc_id
        ),
        normed AS (
            SELECT doc_id, c0, c1, c2, c3,
                   CASE WHEN sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3) = 0 THEN 1.0
                        ELSE sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3) END AS nrm
            FROM wide
        )
        SELECT doc_id,
               ROUND(CAST(CAST(c0 / nrm AS REAL) AS DOUBLE), 6) + 0.0 AS e0,
               ROUND(CAST(CAST(c1 / nrm AS REAL) AS DOUBLE), 6) + 0.0 AS e1,
               ROUND(CAST(CAST(c2 / nrm AS REAL) AS DOUBLE), 6) + 0.0 AS e2,
               ROUND(CAST(CAST(c3 / nrm AS REAL) AS DOUBLE), 6) + 0.0 AS e3
        FROM normed
    """,
)
def text_embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biocache_store_spark.operators.inference import batch_embed

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = batch_embed(docs, dim=4)
    cols = [
        (F.round(F.element_at("embedding", i + 1).cast("double"), 6) + 0.0).alias(
            f"e{i}"
        )
        for i in range(4)
    ]
    return emb.select("doc_id", *cols)
