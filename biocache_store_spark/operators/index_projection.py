"""Index projection: processed records -> the flat, typed query surface.

The reference's "index" stage denormalizes each stored row into ~140 typed
SOLR fields (index/SolrIndexDAO.indexFromMap :630-1010 +
IndexDAO.getOccIndexModel :516-899). Here it is ONE wide select over the
processed DataFrame — raw-vs-parsed precedence, typed casts, the
multi-precision point ladder, occurrence_year/decade, assertion roll-ups
(array higher-order functions, no UDFs) and the kosher gate — producing the
parquet-backed `index` table every facet/filter/export query runs against.

All expressions are built-ins, so the whole projection is a single
whole-stage-codegen pass over the scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the ladder rungs are SHARED with the Python dedup kernels — one module
# (functions/points.py) holds both engines' implementations plus the
# parity property test, so a rounding fix can never drift them apart
from biocache_store_spark.functions.points import (
    rounded_point as _rounded_point,
    stepped_point as _stepped_point,
)


def _qa_names(assertions: Column, status: int) -> Column:
    return F.transform(
        F.filter(assertions, lambda a: a["qa_status"] == status),
        lambda a: a["name"],
    )


# classification fields served by the enrich_classification join columns
_MATCHED_PARSED = {
    "scientificName": "matched_scientificName",
    "taxonConceptID": "matched_taxonConceptID",
    "taxonRank": "matched_taxonRank",
    "left": "matched_lft",
    "right": "matched_rgt",
    "vernacularName": "matched_vernacularName",
    "kingdom": "matched_kingdom",
    # offline duplicate markup (apply_duplicate_markup) lands as
    # _p-suffixed top-level columns (never the raw DwC term names — a
    # record's verbatim associatedOccurrences must not read as detection
    # output); the index serves them as the parsed values
    # (duplicate_status / duplicate_record / duplicate_type)
    "duplicationStatus": "duplicationStatus_p",
    "associatedOccurrences": "associatedOccurrences_p",
    "duplicationType": "duplicationType_p",
}

# cassandra-field aliases onto this engine's raw column names
_RAW_ALIASES = {
    "rowkey": "occurrenceID",
    "uuid": "occurrenceID",
    "lastModifiedTime": "modified",
}


def raw_scientific_name(cols: dict) -> Column:
    """IndexDAO.getRawScientificName (:471-505): the verbatim name for the
    index's raw_taxon_name field — scientificName if supplied, else genus
    [+ specificEpithet|species [+ infraspecificEpithet|subspecies]], else
    family. Empty strings count as missing (IndexTest.scala "Raw
    Scientific Name" matrix)."""

    def nz(name: str) -> Column:
        c = cols.get(name)
        if c is None:
            return F.lit(None).cast("string")
        c = c.cast("string")
        return F.when(F.coalesce(c, F.lit("")) != "", c)

    epithet = F.coalesce(nz("specificEpithet"), nz("species"))
    infra = F.coalesce(nz("infraspecificEpithet"), nz("subspecies"))
    genus_name = F.when(
        nz("genus").isNotNull(), F.concat_ws(" ", nz("genus"), epithet, infra)
    )
    return F.coalesce(nz("scientificName"), genus_name, nz("family"))


def should_index(
    last_loaded: Column,
    last_processed: Column,
    since,
    deleted: Column | None = None,
) -> Column:
    """SolrIndexDAO.shouldIndex (:580-603, IndexTest.scala:14-27): a row
    needs (re)indexing when it is not deleted AND (no start date was
    given, or EITHER its load time or its process time is strictly after
    `since`). Null/unparseable times count as not-after — the reference's
    getOrElse(startDate) collapse. Expressed as a Column so the
    incremental reindex scope is a pushable filter, not a driver loop.

    The deleted flag follows the reference's string convention (the store
    writes a deletion-date string; any non-empty value means deleted), but
    BooleanType columns are also accepted: false casts to the string
    'false', which is treated as live alongside ''/null, so a boolean
    store column doesn't silently exclude every row."""
    not_deleted = (
        F.lit(True)
        if deleted is None
        else F.coalesce(deleted.cast("string"), F.lit("")).isin("", "false")
    )
    if since is None:
        return not_deleted
    # try_cast, not cast: under Spark 4's default ANSI mode a dirty
    # legacy time string would THROW instead of honoring the documented
    # "null/unparseable counts as not-after" contract
    lit = F.lit(since).try_cast("timestamp")
    fresh = F.coalesce(
        last_processed.try_cast("timestamp") > lit, F.lit(False)
    ) | F.coalesce(last_loaded.try_cast("timestamp") > lit, F.lit(False))
    return not_deleted & fresh


def build_index(
    processed_df: DataFrame,
    include_deleted: bool = False,
    user_assertions: DataFrame | None = None,
    key_col: str = "id",
    outliers: DataFrame | None = None,
) -> DataFrame:
    """processed occurrences (output of processors.chain.process_records,
    optionally enriched) -> the flat index table.

    `user_assertions`: optional (rowKey, uuid)-keyed user-assertion store
    (operators/user_assertions.py); when supplied, the index gains the
    reference's user-assertion overlay columns — user_assertion_status
    (the 5-state combined status, QA_NONE default), has_user_assertions,
    user_verified — joined on `key_col` (default: the index's `id` SOLR
    doc key; the store's rowKey values must match it — SolrIndexDAO's
    userAssertions /
    userVerified doc fields, dao/OccurrenceDAOImpl.scala:1089-1160).

    `outliers`: optional persisted outlier store (operators/
    outlier_store.py record rows, or its outlier_for_layers() rollup),
    joined on `key_col` to emit the reference's outlier_layer multivalue
    and outlier_layer_count SOLR fields (IndexDAO.scala:662-670,
    :844-845); records absent from the store index count 0.

    The column set is DATA-driven: operators/index_schema.py ports the
    reference's headerAttributes mapping table (IndexDAO.scala:212-466,
    cassandraField -> solrField with RAW/PARSED/RAW_AND_PARSED precedence,
    date/multivalue arity), and this function generates one typed
    expression per entry — ~160 columns; sources missing from the input
    produce typed nulls so the index schema is stable. The reference's
    IGNORE entries (computed fields: point ladder, lat_long,
    occurrence_year/decade, multimedia, assertion roll-ups,
    sensitive-value overlay, kosher gate) are emitted below as
    expressions. Deleted rows are dropped (IndexDAO.scala:520-523) unless
    include_deleted."""
    from biocache_store_spark.operators.index_schema import (
        ALL_ATTRIBUTES,
        DATE,
        MULTI,
        PARSED,
        RAW,
        RAW_AND_PARSED,
        sanitize,
    )
    from pyspark.sql import types as T

    df = processed_df
    if "processed" not in df.columns:
        # fail at call time with a clear message: the computed fields below
        # (point ladder, assertion roll-ups, kosher gate) dereference the
        # processed struct unconditionally, so a null-tolerant fallback
        # here would only defer the failure to an opaque AnalysisException
        raise ValueError(
            "build_index expects the output of processors.chain."
            "process_records (a 'processed' struct column plus "
            "'assertions'/'geospatially_kosher')"
        )
    p = F.col("processed")
    processed_fields = {f.name for f in df.schema["processed"].dataType.fields}

    def raw_col(field: str) -> Column | None:
        name = _RAW_ALIASES.get(field, field)
        return F.col(name) if name in df.columns else None

    def parsed_col(field: str) -> Column | None:
        if field in processed_fields:
            return p[field]
        matched = _MATCHED_PARSED.get(field)
        if matched and matched in df.columns:
            return F.col(matched).cast("string")
        return None

    def source(field: str, mode: str) -> Column:
        raw = raw_col(field)
        parsed = parsed_col(field)
        if mode == RAW:
            out = raw
        elif mode == PARSED:
            out = parsed
        else:  # RAW_AND_PARSED: raw value, parsed fallback
            if raw is not None and parsed is not None:
                out = F.coalesce(raw.cast("string"), parsed)
            else:
                out = raw if raw is not None else parsed
        return (out.cast("string") if out is not None else F.lit(None).cast("string"))

    # numeric SOLR field types (the reference's schema types these as
    # tdouble/tint dynamic fields)
    double_fields = {
        "latitude", "longitude", "coordinate_uncertainty", "depth",
        "elevation", "min_depth_d", "max_depth_d", "min_elevation_d",
        "max_elevation_d", "distance_outside_expert_range",
    }
    int_fields = {"lft", "rgt", "rank_id"}

    def typed(col: Column, arity: int, field: str, mode: str) -> Column:
        if arity == DATE:
            return col.try_cast("date")
        if arity == MULTI:
            # multivalue columns may arrive as arrays (chain output) or as
            # '|'/';'-delimited strings (reference storage form). The
            # raw-array shortcut applies ONLY when the mode actually
            # selected the raw column — a PARSED field with a same-named
            # raw array must not have the processed value displaced by
            # verbatim data
            name = _RAW_ALIASES.get(field, field)
            if (
                mode != PARSED
                and name in df.columns
                and isinstance(df.schema[name].dataType, T.ArrayType)
            ):
                return F.col(name).cast("array<string>")
            return F.filter(
                F.split(col, r"\s*[|;]\s*"), lambda x: (x != "") & x.isNotNull()
            )
        return col

    cols: list[Column] = []
    seen: set[str] = set()
    for field, solr_field, arity, mode in ALL_ATTRIBUTES:
        name = sanitize(solr_field)
        if name in seen:
            continue
        seen.add(name)
        if name == "raw_taxon_name":
            # the reference derives the raw name through a fallback ladder
            # rather than reading the bare column (IndexDAO.scala:471-505)
            col = raw_scientific_name(
                {
                    f: raw_col(f)
                    for f in (
                        "scientificName",
                        "genus",
                        "specificEpithet",
                        "species",
                        "infraspecificEpithet",
                        "subspecies",
                        "family",
                    )
                }
            )
        else:
            col = typed(source(field, mode), arity, field, mode)
        if name in double_fields:
            col = col.try_cast("double")
        elif name in int_fields:
            col = col.try_cast("int")
        cols.append(col.alias(name))

    # --- computed fields (the reference's IGNORE list) -------------------
    lat = p["decimalLatitude"].cast("double")
    lon = p["decimalLongitude"].cast("double")
    year = p["year"].cast("int")
    cols += [
        # occurrence_year/decade (IndexDAO.scala:578-585)
        year.alias("occurrence_year"),
        (F.floor(year / 10) * 10).cast("int").alias("occurrence_decade_i"),
        p["month"].cast("int").alias("occurrence_month"),
        p["day"].cast("int").alias("occurrence_day"),
        # lat_long + the point ladder (IndexDAO.scala:170-210), incl. the
        # 0.02-step rung
        F.when(
            lat.isNotNull() & lon.isNotNull(),
            F.concat(p["decimalLatitude"], F.lit(","), p["decimalLongitude"]),
        ).alias("lat_long"),
        _rounded_point(lat, lon, 0).alias("point_1"),
        _rounded_point(lat, lon, 1).alias("point_0_1"),
        _rounded_point(lat, lon, 2).alias("point_0_01"),
        _stepped_point(lat, lon, 0.02).alias("point_0_02"),
        _rounded_point(lat, lon, 3).alias("point_0_001"),
        _rounded_point(lat, lon, 4).alias("point_0_0001"),
        F.col("geospatially_kosher").alias("geospatial_kosher"),
        # assertion roll-ups (SolrIndexDAO.extractPassAndFailed :609-629)
        _qa_names(F.col("assertions"), 0).alias("assertions_failed"),
        _qa_names(F.col("assertions"), 1).alias("assertions_passed"),
        _qa_names(F.col("assertions"), 2).alias("assertions_unchecked"),
        F.size(_qa_names(F.col("assertions"), 0)).alias("n_assertions_failed"),
        F.col("assertions").alias("system_assertions"),
    ]
    # multimedia presence (IndexDAO.scala:539-553)
    media_exprs = []
    for media_col, label in (("images", "Image"), ("sounds", "Sound"), ("videos", "Video")):
        if media_col in df.columns:
            media_exprs.append(
                F.when(F.size(F.col(media_col).cast("array<string>")) > 0, F.lit(label))
            )
    if media_exprs:
        present = F.filter(F.array(*media_exprs), lambda x: x.isNotNull())
        cols.append(
            F.when(F.size(present) > 0, present)
            .otherwise(F.array(F.lit("None")))
            .alias("multimedia")
        )
    else:
        cols.append(F.array(F.lit("None")).alias("multimedia"))
    # names_and_lsid / common_name_and_lsid composites (SolrIndexDAO)
    sci = parsed_col("scientificName")
    lsid = parsed_col("taxonConceptID")
    vern = parsed_col("vernacularName")
    if sci is not None and lsid is not None:
        cols.append(
            F.when(
                lsid.isNotNull(),
                F.concat_ws("|", sci, lsid, F.coalesce(vern, F.lit(""))),
            ).alias("names_and_lsid")
        )
        if vern is not None:
            cols.append(
                F.when(
                    vern.isNotNull() & lsid.isNotNull(),
                    F.concat_ws("|", vern, lsid),
                ).alias("common_name_and_lsid")
            )
    # sensitive-value overlay (SolrIndexDAO.scala:615-628): original values
    # recorded by the sensitivity generalization are exposed as sensitive_*
    if "originalSensitiveValues" in df.columns:
        osv = F.col("originalSensitiveValues")
        cols += [
            osv.getItem("decimalLatitude").alias("sensitive_latitude"),
            osv.getItem("decimalLongitude").alias("sensitive_longitude"),
            osv.getItem("coordinateUncertaintyInMeters").alias(
                "sensitive_coordinate_uncertainty"
            ),
            osv.getItem("locality").alias("sensitive_locality"),
        ]
    out = df.select(*cols)
    if not include_deleted and "deleted" in df.columns:
        # deleted/blank-row filter at index time (IndexDAO.scala:520-523).
        # The store's convention is a deletion-date STRING (any non-empty
        # value = deleted; should_index documents it) — cast('boolean')
        # would THROW under default ANSI mode on that very convention,
        # and with ANSI off would null->False and index deleted rows
        out = df.filter(
            F.coalesce(F.col("deleted").cast("string"), F.lit("")).isin("", "false")
        ).select(*cols)
    if user_assertions is not None:
        from biocache_store_spark.operators.user_assertions import (
            overlay_user_status,
        )

        out = overlay_user_status(out, user_assertions, key_col=key_col)
    if outliers is not None:
        # outlier overlay (IndexDAO.scala:662-670, emit :844-845): the
        # offline jackknife results join onto the index as the
        # outlier_layer multivalue + its count — the Spark-shaped twin of
        # the reference's outlierForLayers occ column, sourced straight
        # from the persisted outlier store (operators/outlier_store.py)
        # instead of a per-record column write. `outliers` accepts either
        # the record-level store (is_outlier rows) or the
        # outlier_for_layers() rollup.
        if "outlier_for_layers" not in outliers.columns:
            from biocache_store_spark.operators.outlier_store import (
                outlier_for_layers,
            )

            outliers = outlier_for_layers(outliers)
        ofl = outliers.select(
            F.col("row_key").alias("__ofl_key"),
            F.col("outlier_for_layers").alias("outlier_layer"),
            F.col("outlier_for_layers_count")
            .cast("int")
            .alias("outlier_layer_count"),
        )
        out = (
            out.join(ofl, out[key_col] == F.col("__ofl_key"), "left")
            .drop("__ofl_key")
            .withColumn(
                "outlier_layer_count",
                F.coalesce(F.col("outlier_layer_count"), F.lit(0)),
            )
        )
    return out


def facet_counts(index_df: DataFrame, field: str, limit: int | None = None) -> DataFrame:
    """pageOverFacet (SolrIndexDAO.scala:299-329): counts by field value."""
    out = (
        index_df.filter(F.col(field).isNotNull())
        .groupBy(F.col(field).alias("facet_value"))
        .agg(F.count(F.lit(1)).alias("facet_count"))
        .orderBy(F.col("facet_count").desc(), F.col("facet_value"))
    )
    return out.limit(limit) if limit is not None else out


def distinct_values(index_df: DataFrame, field: str, max_values: int = 1000) -> DataFrame:
    """getDistinctValues (SolrIndexDAO.scala:1500-1532)."""
    return (
        index_df.select(F.col(field).alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .limit(max_values)
    )


def normalise_custom_index_fields(fields: list[str]) -> list[str]:
    """Store.storeCustomIndexFields (Store.scala:695-705): user-nominated
    custom fields default to string dynamic fields — append `_s` unless the
    name already carries a numeric `_i`/`_d` suffix."""
    return [
        f if f.endswith("_i") or f.endswith("_d") else f + "_s" for f in fields
    ]


def add_custom_index_fields(
    index_df: DataFrame,
    fields: list[str],
    misc_col: str = "miscProperties",
    keys_include_suffix: bool = False,
) -> DataFrame:
    """Dynamic misc-map index fields (SolrIndexDAO.scala:682-768): each
    requested field pulls its value from the record's misc-properties map
    and is typed by suffix — `_i` int, `_d` double, `_dt` date, `_s` (or no
    suffix) string.

    The sandbox path strips the type suffix to find the map key
    (keys_include_suffix=False, SolrIndexDAO.scala:689-692); the
    user-provided-type path looks up the full field name
    (keys_include_suffix=True, :731-734). The misc column may be a
    map<string,string> or a JSON string (the reference stores JSON).
    All typed casts are try_cast so unparseable values drop to null instead
    of failing the job (the reference logs and skips)."""
    from pyspark.sql import types as T

    if misc_col not in index_df.columns:
        raise ValueError(
            f"add_custom_index_fields: no {misc_col!r} column in the index"
        )
    src = F.col(misc_col)
    if dict(index_df.dtypes)[misc_col] == "string":
        src = F.from_json(src, T.MapType(T.StringType(), T.StringType()))

    # one select at the end, not one withColumn per field: N stacked
    # projections make Catalyst analysis superlinear in N
    new_cols: list[Column] = []
    for field in fields:
        if field.endswith("_dt"):
            key = field if keys_include_suffix else field[:-3]
            raw = src.getItem(key)
            value = F.coalesce(
                F.try_to_timestamp(raw, F.lit("yyyy-MM-dd")),
                F.try_to_timestamp(raw, F.lit("dd/MM/yyyy")),
                F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss")),
                F.try_to_timestamp(raw, F.lit("yyyy")),
            ).cast("date").cast("string")
        elif field.endswith("_i") or field.endswith("_d") or field.endswith("_s"):
            key = field if keys_include_suffix else field[:-2]
            raw = src.getItem(key)
            if field.endswith("_i"):
                value = raw.try_cast("int").cast("string")
            elif field.endswith("_d"):
                value = raw.try_cast("double").cast("string")
            else:
                value = raw
        else:
            # bare name -> string dynamic field `name_s` (SolrIndexDAO:714-719)
            value = src.getItem(field)
            field = field + "_s"
        new_cols.append(value.alias(field))
    return index_df.select("*", *new_cols)
