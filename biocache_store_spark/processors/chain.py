"""Spark integration of the record-processing chain.

The reference runs 12 processors per record inside a hand-rolled thread pool
(processor/RecordProcessor.scala:71-137 over pageOverLocal). Here the whole
per-record part of the chain is ONE Arrow-batched mapInPandas pass — no
shuffle, pipelined with the scan — emitting a `processed` struct column and
an `assertions` array<struct> column; the record-level flags
(geospatially_kosher) are derived from the assertion array exactly as the
reference's FullRecordMapper does.

Lookup-style processors (attribution, classification) are DataFrame
broadcast joins layered on top (the reference's LRU caches,
caches/AttributionDAO.scala / ClassificationDAO.scala) — see
enrich_classification / enrich_attribution.

Stage order within the record pass preserves Processors.scala:16-29:
default values -> misc -> bor -> event -> location -> type status.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biocache_store_spark.processors.assertions import geospatially_kosher
from biocache_store_spark.processors.event import process_event
from biocache_store_spark.processors.identification import (
    process_identification_qualifier,
)
from biocache_store_spark.processors.location import process_location
from biocache_store_spark.processors.vocab_stages import (
    process_basis_of_record,
    process_establishment_means,
    process_license,
    process_occurrence_status,
    process_recorded_by,
    process_type_status,
)

RAW_FIELDS = (
    "occurrenceID",
    "dataResourceUid",
    "institutionCode",
    "collectionCode",
    "catalogNumber",
    "recordNumber",
    "basisOfRecord",
    "recordedBy",
    "occurrenceStatus",
    "establishmentMeans",
    "typeStatus",
    "eventDate",
    "eventDateEnd",
    "verbatimEventDate",
    "day",
    "month",
    "year",
    "datePrecision",
    "modified",
    "dateIdentified",
    "georeferencedDate",
    "decimalLatitude",
    "decimalLongitude",
    "verbatimLatitude",
    "verbatimLongitude",
    "geodeticDatum",
    "verbatimSRS",
    "easting",
    "northing",
    "zone",
    "gridReference",
    "coordinateUncertaintyInMeters",
    "coordinatePrecision",
    "country",
    "countryCode",
    "stateProvince",
    "locality",
    "habitat",
    "verbatimDepth",
    "verbatimElevation",
    "minimumDepthInMeters",
    "maximumDepthInMeters",
    "minimumElevationInMeters",
    "maximumElevationInMeters",
    "georeferencedBy",
    "georeferenceProtocol",
    "georeferenceRemarks",
    "georeferenceSources",
    "georeferenceVerificationStatus",
    "scientificName",
    "kingdom",
    "phylum",
    "classs",
    "order",
    "family",
    "genus",
    "vernacularName",
    "identificationQualifier",
    "identifiedBy",
    "identificationReferences",
    "associatedTaxa",
    "dataGeneralizations",
    "license",
)

PROCESSED_FIELDS = (
    "basisOfRecord",
    "recordedBy",
    "occurrenceStatus",
    "establishmentMeans",
    "typeStatus",
    "eventDate",
    "eventDateEnd",
    "day",
    "month",
    "year",
    "datePrecision",
    "modified",
    "dateIdentified",
    "georeferencedDate",
    "decimalLatitude",
    "decimalLongitude",
    "geodeticDatum",
    "coordinateUncertaintyInMeters",
    "stateProvince",
    "country",
    "lga",
    "biome",
    "habitat",
    "verbatimDepth",
    "verbatimElevation",
    "minimumDepthInMeters",
    "maximumDepthInMeters",
    "minimumElevationInMeters",
    "maximumElevationInMeters",
    "identificationQualifier",
    "images",
    "sounds",
    "videos",
    "interactions",
    "license",
)

ASSERTION_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("code", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("qa_status", T.IntegerType()),
            T.StructField("comment", T.StringType()),
        ]
    )
)

PROCESSED_TYPE = T.StructType(
    [T.StructField(f, T.StringType()) for f in PROCESSED_FIELDS]
)


# EventProcessor is a pure function of these raw fields (+ `today`) and
# real occurrence data repeats date tuples massively: the per-task memo key
_EVENT_FIELDS_IN = (
    "day",
    "month",
    "year",
    "eventDate",
    "eventDateEnd",
    "verbatimEventDate",
    "datePrecision",
    "modified",
    "dateIdentified",
    "georeferencedDate",
)


# LocationProcessor is a pure function of these raw fields when the chain
# supplies no per-record intersect callable (the Spark pipeline serves
# layers via the sampling join instead); the reference memoizes location
# processing per distinct point the same way (caches/LocationDAO.scala)
_LOCATION_FIELDS_IN = (
    "decimalLatitude",
    "decimalLongitude",
    "verbatimLatitude",
    "verbatimLongitude",
    "geodeticDatum",
    "verbatimSRS",
    "easting",
    "northing",
    "zone",
    "gridReference",
    "coordinateUncertaintyInMeters",
    "coordinatePrecision",
    "country",
    "countryCode",
    "stateProvince",
    "habitat",
    "verbatimDepth",
    "verbatimElevation",
    "minimumDepthInMeters",
    "maximumDepthInMeters",
    "minimumElevationInMeters",
    "maximumElevationInMeters",
    "georeferencedDate",
    "georeferencedBy",
    "georeferenceProtocol",
    "georeferenceRemarks",
    "georeferenceSources",
    "georeferenceVerificationStatus",
)


def process_record(
    raw: dict,
    default_values: dict | None = None,
    today: _dt.date | None = None,
    intersect=None,
    species_habitats: list[str] | None = None,
    default_country: str | None = None,
    last_processed: dict | None = None,
    last_assertions: list | None = None,
    event_memo: dict | None = None,
    location_memo: dict | None = None,
) -> tuple[dict, list]:
    """Run the per-record stages in reference order for one raw record.

    `intersect`: optional (lat, lon) -> {stateProvince, country, lga,
    biome} callable (the SpatialLayerDAO analog) for the per-record layer
    path; the Spark pipeline normally supplies layers via the sampling
    join instead. `last_processed`/`last_assertions`: the previous
    processed version, consumed by the OfflineTestProcessor carry-forward
    (reprocessing keeps offline dedup/outlier results).

    `event_memo`/`location_memo`: caller-owned dicts memoizing the two
    pure stages per distinct input tuple — EventProcessor is a pure
    function of the 10 date fields (+ today), LocationProcessor of its
    28 raw fields when no per-record `intersect` is supplied, and real
    occurrence data repeats both massively. This is the reference's own
    LRU location cache (Config.scala:165-173) as an explicit argument;
    memoized results are treated read-only by every consumer (dict
    .update and list +=)."""
    from biocache_store_spark.processors.identification import (
        process_identification_checks,
        process_identification_qualifier,
        process_images,
        process_interactions,
        process_misc_occurrence,
        process_offline_tests,
    )

    processed: dict = {}
    assertions: list = []

    # 1. DefaultValuesProcessor (processor/DefaultValuesProcessor.scala:23-60)
    if default_values:
        for key, value in default_values.items():
            processed.setdefault(key, value)

    # 2. MiscellaneousProcessor (media / interactions / occurrenceStatus /
    #    establishmentMeans / recordedBy / identification + misc QAs)
    assertions += process_images(raw, processed)
    assertions += process_interactions(raw, processed)
    assertions += process_occurrence_status(raw, processed)
    assertions += process_establishment_means(raw, processed)
    assertions += process_recorded_by(raw, processed)
    assertions += process_identification_checks(raw)
    assertions += process_misc_occurrence(raw)

    # 3. OfflineTestProcessor (carry forward dedup/outlier results)
    assertions += process_offline_tests(processed, last_processed, last_assertions)

    # 4. AttributionProcessor licence canonicalization (the lookup half of
    #    ATTR is the broadcast join in processors/enrichment.py)
    assertions += process_license(raw, processed)

    # 6. BasisOfRecordProcessor
    assertions += process_basis_of_record(raw, processed)

    # 7. EventProcessor
    hit = None
    key = None
    if event_memo is not None:
        try:
            key = tuple(raw.get(f) for f in _EVENT_FIELDS_IN)
            hit = event_memo.get(key)
        except TypeError:  # unhashable raw value — run uncached
            key = None
    if hit is None:
        hit = process_event(raw, today)
        if key is not None:
            event_memo[key] = hit
    event_processed, event_assertions = hit
    processed.update(event_processed)
    assertions += event_assertions

    # 8. LocationProcessor
    hit = None
    key = None
    # memo only valid without a per-record intersect callable (its
    # results could vary per record beyond the raw fields)
    if location_memo is not None and intersect is None:
        try:
            key = tuple(raw.get(f) for f in _LOCATION_FIELDS_IN)
            hit = location_memo.get(key)
        except TypeError:
            key = None
    if hit is None:
        hit = process_location(
            raw,
            intersect=intersect,
            species_habitats=species_habitats,
            default_country=default_country,
        )
        if key is not None:
            location_memo[key] = hit
    loc_processed, loc_assertions = hit
    processed.update(loc_processed)
    assertions += loc_assertions

    # 10. TypeStatusProcessor
    assertions += process_type_status(raw, processed)

    # 11. IdentificationQualifierProcessor
    assertions += process_identification_qualifier(raw, processed)

    # 12. ReprocessingProcessor (retain prior sampling when coords unchanged)
    from biocache_store_spark.processors.identification import process_reprocessing

    assertions += process_reprocessing(processed, last_processed)

    return processed, assertions



def _qa_dicts(assertions) -> list[dict]:
    """QualityAssertion list -> Arrow-ready dicts matching ASSERTION_TYPE —
    THE single serialization point for every pandas pass (a field added to
    the struct changes exactly one place)."""
    return [
        {
            "code": a.code,
            "name": a.name,
            "qa_status": a.qa_status,
            "comment": a.comment,
        }
        for a in assertions
    ]


def process_records(
    df: DataFrame,
    default_values_by_resource: dict[str, dict] | None = None,
    today: _dt.date | None = None,
) -> DataFrame:
    """raw occurrences -> + processed struct, assertions array, kosher flag; pure stages memoized per task (100k cap).
    One mapInPandas pass running all 12 stages in reference order; no
    shuffle at scale (the min-parallelism repartition only fires when the
    input has fewer splits than cores).

    EventProcessor and LocationProcessor run once per distinct input
    tuple within each task —
    the reference's LRU location cache (Config.scala:165-173) — capped
    at 100k entries per memo so a pathological all-unique corpus stays
    memory-bounded (it pays one wasted dict probe per record, nothing
    more). Identical output by construction: the same pure function on
    the same inputs."""
    from biocache_store_spark.util import (
        ensure_min_parallelism,
        ensure_package_on_workers,
    )

    ensure_package_on_workers(df.sparkSession)
    df = ensure_min_parallelism(df)
    defaults = default_values_by_resource or {}
    # resolve `today` ONCE per job: the per-record default would resolve
    # date.today() per call, so the event/location memo (keyed on raw
    # fields only) could freeze a pre-midnight verdict for post-midnight
    # records in the same task — one job, one date, deterministic output
    today = today or _dt.date.today()
    input_cols = df.columns
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("processed", PROCESSED_TYPE),
            T.StructField("assertions", ASSERTION_TYPE),
            T.StructField("geospatially_kosher", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        event_memo: dict = {}
        location_memo: dict = {}
        for pdf in batches:
            if len(event_memo) > 100_000:
                event_memo.clear()
            if len(location_memo) > 100_000:
                location_memo.clear()
            processed_col = []
            assertions_col = []
            kosher_col = []
            # column-zip instead of to_dict("records"): ~4.5x faster batch
            # conversion, and .tolist() yields native Python scalars
            cols = list(pdf.columns)
            arrays = [pdf[c].tolist() for c in cols]
            for row in zip(*arrays):
                raw = {
                    # float-NaN check without a pandas call (same semantics
                    # as the previous isinstance+pd.isna guard)
                    k: (None if v is None or (isinstance(v, float) and v != v) else v)
                    for k, v in zip(cols, row)
                }
                dv = defaults.get(raw.get("dataResourceUid") or "", None)
                processed, assertions = process_record(
                    raw,
                    dv,
                    today,
                    event_memo=event_memo,
                    location_memo=location_memo,
                )
                processed_col.append(
                    {
                        # multivalue fields (interactions, media lists) use
                        # the reference's '|' multivalue convention in the
                        # all-string struct
                        f: (
                            "|".join(v)
                            if isinstance(v := processed.get(f), (list, tuple))
                            else v
                        )
                        for f in PROCESSED_FIELDS
                    }
                )
                assertions_col.append(
                    _qa_dicts(assertions)
                )
                kosher_col.append(geospatially_kosher(assertions))
            out = pdf[list(input_cols)].copy()
            out["processed"] = processed_col
            out["assertions"] = assertions_col
            out["geospatially_kosher"] = kosher_col
            yield out

    return df.mapInPandas(run, schema=schema)


def enrich_classification(df: DataFrame, taxa: DataFrame) -> DataFrame:
    """ClassificationProcessor as the staged broadcast name-match ladder
    (caches/ClassificationDAO.scala; ladder + homonym handling in
    processors/taxonomy.py match_names_spark: exact normalized name, then
    canonical genus+epithet, kingdom-disambiguated homonyms).

    taxa columns: scientificName, taxonConceptID, taxonRank, lft, rgt,
    vernacularName, optionally kingdom (FIXTURES.md F2). Adds matched_*
    columns, match_type/is_homonym, + a NAME_NOTRECOGNISED assertion when
    unmatched."""
    from biocache_store_spark.processors.taxonomy import match_names_spark

    names = taxa.withColumn(
        "lsid", F.col("taxonConceptID")
    )
    if "kingdom" not in names.columns:
        names = names.withColumn("kingdom", F.lit(None).cast("string"))
    for col in ("genus", "specificEpithet", "kingdom"):
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast("string"))
    matched = match_names_spark(df, names)
    # one attrs row per concept: checklists carry multiple name rows
    # (synonyms) sharing an accepted taxonConceptID, and an un-deduped
    # broadcast join would emit one output row per synonym — silent
    # record inflation. min(struct) keeps a deterministic row.
    attr_payload = F.struct(
        F.col("taxonRank").alias("r"),
        F.col("lft").alias("l"),
        F.col("rgt").alias("g"),
        F.col("vernacularName").alias("v"),
        F.col("kingdom").alias("k"),
    )
    attrs = (
        names.groupBy(F.col("taxonConceptID").alias("__attr_lsid"))
        .agg(F.min(attr_payload).alias("__a"))
        .select(
            "__attr_lsid",
            F.col("__a.r").alias("matched_taxonRank"),
            F.col("__a.l").alias("matched_lft"),
            F.col("__a.g").alias("matched_rgt"),
            F.col("__a.v").alias("matched_vernacularName"),
            F.col("__a.k").alias("matched_kingdom"),
        )
    )
    joined = (
        matched.join(
            F.broadcast(attrs),
            F.col("matched_lsid") == F.col("__attr_lsid"),
            "left",
        )
        .drop("__attr_lsid")
        .withColumnRenamed("matched_lsid", "matched_taxonConceptID")
    )
    name_missing = F.col("matched_taxonConceptID").isNull() & F.col(
        "scientificName"
    ).isNotNull()
    from biocache_store_spark.processors.assertions import AssertionCodes as _C

    new_assertion = F.struct(
        F.lit(_C.NAME_NOTRECOGNISED.code).alias("code"),
        F.lit(_C.NAME_NOTRECOGNISED.name).alias("name"),
        F.when(name_missing, F.lit(0)).otherwise(F.lit(1)).alias("qa_status"),
        F.lit("").alias("comment"),
    )
    if "assertions" in joined.columns:
        from biocache_store_spark.processors.assertions import append_assertion

        joined = append_assertion(joined, new_assertion)
    return joined
