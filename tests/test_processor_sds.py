"""Full SDS processing (processors/sds.py) vs the reference's
SensitivityProcessor.scala semantics — rule cases modelled on
src/test/resources/test-sensitive-species-data.xml (zone-scoped
generalisation instances and a WITHHOLD instance)."""

from __future__ import annotations

import pytest

from biocache_store_spark.processors.sds import (
    apply_sds,
    exact_sci_name,
    overlay_sensitive_index_fields,
    unprocess_non_sensitive,
)


@pytest.fixture(scope="module")
def rules(spark):
    # (scientificName, taxonConceptID, zone, category, authority, generalisation)
    return spark.createDataFrame(
        [
            # test-sensitive-species-data.xml: Hericium cirrhatum 10km in England
            ("Hericium cirrhatum", "lsid:8012", "England", "NE", "Natural England", "10km"),
            # Lutra lutra: 10km in Scotland only
            ("Lutra lutra", "lsid:5133", "Scotland", "NE", "Natural England", "10km"),
            # Diuris disposita: WITHHOLD in New South Wales
            ("Diuris disposita", "lsid:167966", "New South Wales", "NSW", "Natural NSW", "WITHHOLD"),
            # everywhere-rule (zone null) + a competing finer instance
            ("Thryptomene stenophylla", "lsid:771", None, "WA", "DEC", "1km"),
            ("Thryptomene stenophylla", "lsid:771", "Western Australia", "WA", "DEC", "100m"),
        ],
        "scientificName string, taxonConceptID string, zone string, "
        "category string, authority string, generalisation string",
    )


def _records(spark, rows):
    return spark.createDataFrame(
        rows,
        "rowKey string, scientificName string, taxonConceptID string, "
        "stateProvince string, country string, decimalLatitude string, "
        "decimalLongitude string, coordinateUncertaintyInMeters string, "
        "eventDate string, day string, month string",
    )


def test_generalisation_and_zone_scoping(spark, rules):
    records = _records(
        spark,
        [
            # in-zone: 10km generalisation applies
            ("r1", "Hericium cirrhatum", None, "England", "United Kingdom",
             "52.91456", "-1.23765", "10", "2020-04-01", "1", "4"),
            # out-of-zone for the Scotland-only rule: untouched
            ("r2", "Lutra lutra", None, "England", "United Kingdom",
             "52.5", "-1.9", "10", "2020-04-01", "1", "4"),
            # non-sensitive name
            ("r3", "Macropus rufus", None, "England", None,
             "52.5", "-1.9", "5", "2020-04-01", "1", "4"),
        ],
    )
    out = {r["rowKey"]: r for r in apply_sds(records, rules).collect()}

    r1 = out["r1"]
    assert r1["sensitive"]
    assert r1["decimalLatitude"] == "52.9"  # 10km -> 0.1 degree grid
    assert r1["decimalLongitude"] == "-1.2"
    assert r1["coordinateUncertaintyInMeters"] == "10010.0"  # 10 + 10000
    assert "generalised to 10000m" in r1["dataGeneralizations"]
    # event withholding: SensitivityProcessor.scala:229-258
    assert r1["eventDate"] is None and r1["day"] is None and r1["month"] is None
    osv = r1["originalSensitiveValues"]
    assert osv["decimalLatitude"] == "52.91456"
    assert osv["eventDate"] == "2020-04-01"
    assert osv["coordinateUncertaintyInMeters.p"] == "10"

    r2 = out["r2"]
    assert not r2["sensitive"]
    assert r2["decimalLatitude"] == "52.5" and r2["eventDate"] == "2020-04-01"
    assert r2["originalSensitiveValues"] is None

    assert not out["r3"]["sensitive"]


def test_withhold_blanks_coordinates(spark, rules):
    records = _records(
        spark,
        [("r1", "Diuris disposita", None, "New South Wales", "Australia",
          "-29.04", "152.1", "100", "2019-09-09", "9", "9")],
    )
    r = apply_sds(records, rules).collect()[0]
    assert r["sensitive"]
    assert r["decimalLatitude"] is None and r["decimalLongitude"] is None
    assert r["coordinateUncertaintyInMeters"] is None
    assert "withheld" in r["informationWithheld"]
    assert r["originalSensitiveValues"]["decimalLatitude"] == "-29.04"


def test_lsid_match_and_most_restrictive_instance(spark, rules):
    records = _records(
        spark,
        [
            # matched via taxonConceptID, name unknown; in WA both the
            # null-zone 1km and the WA 100m instances apply -> 1km wins
            ("r1", "Misspelt name", "lsid:771", "Western Australia", "Australia",
             "-31.95224", "115.85712", None, None, None, None),
            # outside WA only the null-zone 1km instance applies
            ("r2", "Thryptomene stenophylla", None, "Queensland", "Australia",
             "-27.46844", "153.02351", None, None, None, None),
        ],
    )
    out = {r["rowKey"]: r for r in apply_sds(records, rules).collect()}
    assert out["r1"]["sensitive"]
    assert out["r1"]["decimalLatitude"] == "-31.95"  # 1km -> 0.01
    assert out["r2"]["decimalLatitude"] == "-27.47"
    assert out["r2"]["coordinateUncertaintyInMeters"] == "1000.0"


def test_exact_sci_name_ladder(spark):
    df = spark.createDataFrame(
        [
            ("full", "Aus bus", None, None, None, None, None),
            ("genus+ep", None, None, "Aus", "bus", None, None),
            ("genus+ep+infra", None, None, "Aus", "bus", "cus", None),
            ("genus only", None, None, "Aus", None, None, None),
            ("species fallback", None, "Aus bus", None, None, None, None),
            ("vernacular", None, None, None, None, None, "Red Kangaroo"),
        ],
        "rowKey string, scientificName string, species string, genus string, "
        "specificEpithet string, infraspecificEpithet string, vernacularName string",
    )
    out = {
        r["rowKey"]: r["nm"]
        for r in df.select("rowKey", exact_sci_name(df).alias("nm")).collect()
    }
    assert out == {
        "full": "Aus bus",
        "genus+ep": "Aus bus",
        "genus+ep+infra": "Aus bus cus",
        "genus only": "Aus",
        "species fallback": "Aus bus",
        "vernacular": "Red Kangaroo",
    }


def test_unprocess_restores_raw_values(spark, rules):
    # a record that WAS sensitive (carries the map) but no longer matches
    records = _records(
        spark,
        [("r1", "Macropus rufus", None, "England", None,
          "52.9", "-1.2", "10010", None, None, None)],
    )
    processed = apply_sds(records, rules)  # not sensitive now
    from pyspark.sql import functions as F

    with_osv = processed.withColumn(
        "originalSensitiveValues",
        F.create_map(
            F.lit("decimalLatitude"), F.lit("52.91456"),
            F.lit("eventDate"), F.lit("2020-04-01"),
        ),
    )
    r = unprocess_non_sensitive(with_osv).collect()[0]
    assert r["decimalLatitude"] == "52.91456"
    assert r["eventDate"] == "2020-04-01"
    assert r["originalSensitiveValues"] is None


def test_index_overlay_respects_exclusion_list(spark, rules):
    records = _records(
        spark,
        [
            ("r1", "Hericium cirrhatum", None, "England", None,
             "52.91456", "-1.23765", "10", "2020-04-01", "1", "4"),
            ("r2", "Hericium cirrhatum", None, "England", None,
             "53.11111", "-1.44444", "10", "2020-05-01", "1", "5"),
        ],
    )
    from pyspark.sql import functions as F

    indexed = apply_sds(records, rules).withColumn(
        "dataResourceUid", F.when(F.col("rowKey") == "r1", "dr1").otherwise("dr2")
    )
    out = {
        r["rowKey"]: r
        for r in overlay_sensitive_index_fields(
            indexed, excluded_data_resources=["dr2"]
        ).collect()
    }
    assert out["r1"]["sensitive_latitude"] == "52.91456"
    assert out["r1"]["sensitive_coordinate_uncertainty"] == "10"
    assert out["r1"]["sensitive_event_date"] == "2020-04-01"
    assert out["r2"]["sensitive_latitude"] is None  # excluded resource


def test_grid_reference_degraded(spark, rules):
    records = spark.createDataFrame(
        [("r1", "Hericium cirrhatum", "England", "NM3945", "56.9", "-6.4"),
         ("r2", "Macropus rufus", "England", "NM3945", "56.9", "-6.4")],
        "rowKey string, scientificName string, stateProvince string, "
        "gridReference string, decimalLatitude string, decimalLongitude string",
    )
    out = {r["rowKey"]: r for r in apply_sds(records, rules).collect()}
    # 10km generalisation -> 10km grid letter pair + single digits (NM34)
    assert out["r1"]["gridReference"] == "NM34"
    assert out["r1"]["originalSensitiveValues"]["gridReference"] == "NM3945"
    assert out["r2"]["gridReference"] == "NM3945"  # untouched


def test_generalisation_idempotent_from_raw(spark, rules):
    """ScotlandSensitivityTest.scala ("Idempotent test"): re-processing a
    sensitive record must not degrade coordinates twice. The reference
    restores originalSensitiveValues into raw before re-generalising
    (SensitivityProcessor.scala:84-90); this engine gets the same property
    structurally — apply_sds always derives from the persisted RAW record,
    so a second pass over the same raw input is bit-identical, and there
    is no "already generalised" state to track."""
    records = _records(
        spark,
        [
            ("r1", "Hericium cirrhatum", None, "England", "United Kingdom",
             "55.9486", "-3.2008", "10", "2020-04-01", "1", "4"),
        ],
    )
    first = {r["rowKey"]: r.asDict() for r in apply_sds(records, rules).collect()}
    second = {r["rowKey"]: r.asDict() for r in apply_sds(records, rules).collect()}
    assert first == second
    r = first["r1"]
    assert r["sensitive"] and "generalised" in (r["dataGeneralizations"] or "")
    assert "already generalised" not in (r["dataGeneralizations"] or "")


def test_sds_unparseable_generalisation_fails_closed(spark):
    """A rule whose generalisation string parses to neither metres nor
    WITHHOLD must WITHHOLD the record, not publish it nearly unredacted
    with a NULLed uncertainty."""
    from pyspark.sql import functions as F

    from biocache_store_spark.processors.sds import apply_sds

    recs = spark.createDataFrame(
        [("r1", "Xus sensitivus", "-35.123456", "149.123456", "NSW", "AU", "10")],
        "rowKey string, scientificName string, decimalLatitude string, "
        "decimalLongitude string, stateProvince string, country string, "
        "coordinateUncertaintyInMeters string",
    )
    rules = spark.createDataFrame(
        [("Xus sensitivus", None, "10 km", "C1", "auth")],
        "scientificName string, zone string, generalisation string, "
        "category string, authority string",
    )
    [row] = apply_sds(recs, rules).collect()
    assert row["sensitive"] is True
    assert row["decimalLatitude"] is None and row["decimalLongitude"] is None
    assert row["informationWithheld"] is not None


def test_sds_unprocess_restores_uncertainty(spark):
    from pyspark.sql import functions as F

    from biocache_store_spark.processors.sds import (
        apply_sds,
        unprocess_non_sensitive,
    )

    recs = spark.createDataFrame(
        [("r1", "Xus sensitivus", "-35.123456", "149.123456", "NSW", "AU", "10")],
        "rowKey string, scientificName string, decimalLatitude string, "
        "decimalLongitude string, stateProvince string, country string, "
        "coordinateUncertaintyInMeters string",
    )
    rules = spark.createDataFrame(
        [("Xus sensitivus", None, "10km", "C1", "auth")],
        "scientificName string, zone string, generalisation string, "
        "category string, authority string",
    )
    generalised = apply_sds(recs, rules)
    [g] = generalised.collect()
    assert g["coordinateUncertaintyInMeters"] == "10010.0"
    # later: no longer sensitive -> restore the snapshot
    stale = generalised.withColumn("sensitive", F.lit(False))
    [r] = unprocess_non_sensitive(stale).collect()
    assert r["coordinateUncertaintyInMeters"] == "10"
    assert r["decimalLatitude"] == "-35.123456"


def test_phonetic_ph_f_unify():
    from biocache_store_spark.processors.taxonomy import phonetic_key

    assert phonetic_key("Phoca") == phonetic_key("Foca")


def test_taxon_hints_rank_case_insensitive():
    from biocache_store_spark.processors.taxonomy import (
        is_match_valid,
        parse_hints,
    )

    hints = parse_hints(["Kingdom:Animalia"])
    ok, _ = is_match_valid({"kingdom": "Animalia"}, hints)
    assert ok
    bad, label = is_match_valid({"kingdom": "Plantae"}, hints)
    assert not bad and "Plantae" in label


def test_state_resolved_from_layer_before_sensitivity(spark, rules):
    """SDSServiceTest.scala mirror: a record with COORDINATES but no raw
    stateProvince must still trip the zone-scoped rule — the pipeline
    resolves the state from the designated cl layer (the reference's
    LocationProcessor-before-SensitivityProcessor ordering via
    Config.stateProvinceLayerID) before sensitivity runs. Records with a
    raw state keep it; without a state_layer dim the blank-state record
    publishes unprotected (the gap the wiring closes)."""
    from pyspark.sql import functions as F

    from biocache_store_spark.pipeline import Dimensions, run_pipeline

    # an NSW bounding box covering (146.921099, -31.2532183)
    cl = spark.createDataFrame(
        [("cl22", "New South Wales",
          "POLYGON((141 -37.5, 153.6 -37.5, 153.6 -28, 141 -28, 141 -37.5))")],
        "layerID string, name string, wkt string",
    )
    records = spark.createDataFrame(
        [
            # SDSServiceTest's Diuris disposita: coords only, no raw state
            ("r1", "Diuris disposita", "lsid:167966", None, None,
             "-31.2532183", "146.921099", None, None, None, None),
            # raw state present: must be kept, not overwritten
            ("r2", "Diuris disposita", "lsid:167966", "Queensland", None,
             "-31.2532183", "146.921099", None, None, None, None),
        ],
        "rowKey string, scientificName string, taxonConceptID string, "
        "stateProvince string, country string, decimalLatitude string, "
        "decimalLongitude string, coordinateUncertaintyInMeters string, "
        "eventDate string, day string, month string",
    )
    out = run_pipeline(
        records,
        Dimensions(sensitive_species=rules, cl_layers=cl, state_layer="cl22"),
    )
    got = {r["rowKey"]: r for r in out.collect()}
    # r1: state resolved from the layer -> WITHHOLD rule fires
    assert got["r1"]["sensitive"] is True
    assert got["r1"]["decimalLatitude"] is None  # withheld
    assert "withheld" in got["r1"]["informationWithheld"]
    # the resolved state reaches the PROCESSED record even though the
    # coordinates were withheld before the enrichment sampling ran (the
    # reference writes the intersect result before SDS generalizes); it
    # rides a temp column, never the raw stateProvince field
    assert got["r1"]["processed"]["stateProvince"] == "New South Wales"
    assert got["r1"]["stateProvince"] is None
    assert "__resolved_state" not in out.columns
    # r2: raw state wins; Queensland is outside the rule's zone
    assert got["r2"]["sensitive"] is False

    # without the state_layer wiring the blank-state record is unprotected
    out2 = run_pipeline(
        records, Dimensions(sensitive_species=rules, cl_layers=cl)
    )
    got2 = {r["rowKey"]: r for r in out2.collect()}
    assert got2["r1"]["sensitive"] is False


def test_index_state_filled_from_layer_for_coordinate_records(spark):
    """The chain canonicalizes a raw state only for no-coordinate records
    (its layer intersect is the sampling join) — with Dimensions.state_layer
    set, a coordinates-only record's processed stateProvince comes from the
    state layer polygon, as the reference's LocationProcessor intersect
    writes it."""
    from pyspark.sql import functions as F

    from biocache_store_spark.operators.index_projection import build_index
    from biocache_store_spark.pipeline import Dimensions, run_pipeline

    cl = spark.createDataFrame(
        [("cl22", "New South Wales",
          "POLYGON((141 -37.5, 153.6 -37.5, 153.6 -28, 141 -28, 141 -37.5))")],
        "layerID string, name string, wkt string",
    )
    records = spark.createDataFrame(
        [("r1", "-31.25", "146.92", None, None),
         ("r2", "-31.25", "146.92", "", "")],
        "rowKey string, decimalLatitude string, decimalLongitude string, "
        "stateProvince string, country string",
    )
    out = run_pipeline(records, Dimensions(cl_layers=cl, state_layer="cl22"))
    rows = {r["rowKey"]: r for r in out.collect()}
    for key, verbatim in (("r1", None), ("r2", "")):
        row = rows[key]
        assert row["processed"]["stateProvince"] == "New South Wales"
        # country inferred from the resolved state (StateProvinceToCountry)
        assert row["processed"]["country"] == "Australia"
        # the raw columns stay verbatim provider data
        assert row["stateProvince"] == verbatim
        assert row["country"] == verbatim
    idx = build_index(out.filter("rowKey = 'r1'")).collect()[0]
    assert idx["state"] == "New South Wales"
    assert idx["raw_state"] is None
    # without the designated layer the gap remains (documented chain shape)
    out2 = run_pipeline(records, Dimensions(cl_layers=cl))
    assert out2.collect()[0]["processed"]["stateProvince"] is None
