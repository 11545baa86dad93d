"""Spark integration of the processing chain: one mapInPandas pass over a
raw occurrences DataFrame + broadcast classification enrichment."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from biocache_store_spark.processors.chain import (
    enrich_classification,
    process_records,
)

TODAY = dt.date(2026, 8, 13)


@pytest.fixture(scope="module")
def occurrences(spark):
    rows = [
        # well-formed Australian record
        ("occ1", "dr1", "PreservedSpecimen", "1978-12-31", None, None, None,
         "-35.21667", "144.81060", "WGS84", "Australia", "Macropus rufus"),
        # transposed coordinates
        ("occ2", "dr1", "preserved_specimen", None, "78", "16", "6",
         None, None, None, None, "Macropus rufus"),
        # zero coordinates -> not kosher
        ("occ3", "dr2", "garbage-bor", "2000-01-01", None, None, None,
         "0", "0", "WGS84", None, "Unknownus speciesus"),
        # missing everything
        ("occ4", "dr2", None, None, None, None, None,
         None, None, None, None, None),
    ]
    cols = [
        "occurrenceID", "dataResourceUid", "basisOfRecord", "eventDate",
        "year", "month", "day", "decimalLatitude", "decimalLongitude",
        "geodeticDatum", "country", "scientificName",
    ]
    return spark.createDataFrame(rows, cols)


@pytest.fixture(scope="module")
def taxa(spark):
    return spark.createDataFrame(
        [("Macropus rufus", "urn:lsid:mr", "species", 10, 11, "Red Kangaroo")],
        ["scientificName", "taxonConceptID", "taxonRank", "lft", "rgt", "vernacularName"],
    )


def test_chain(spark, occurrences, taxa):
    out = process_records(
        occurrences,
        default_values_by_resource={"dr2": {"basisOfRecord": "HumanObservation"}},
        today=TODAY,
    )
    out = enrich_classification(out, taxa)
    rows = {r["occurrenceID"]: r for r in out.collect()}

    r1 = rows["occ1"]
    assert r1["processed"]["basisOfRecord"] == "PreservedSpecimen"
    assert r1["processed"]["eventDate"] == "1978-12-31"
    assert r1["processed"]["decimalLatitude"] == "-35.21667"
    assert r1["processed"]["occurrenceStatus"] == "present"
    assert r1["geospatially_kosher"] is True
    assert r1["matched_taxonConceptID"] == "urn:lsid:mr"
    codes = {a["code"]: a["qa_status"] for a in r1["assertions"]}
    assert codes[10004] == 1  # name recognised

    r2 = rows["occ2"]
    assert r2["processed"]["eventDate"] == "1978-06-16"
    assert r2["processed"]["basisOfRecord"] == "PreservedSpecimen"
    codes2 = {a["code"]: a["qa_status"] for a in r2["assertions"]}
    assert codes2[30009] == 0  # dayMonthTransposed failed

    r3 = rows["occ3"]
    assert r3["geospatially_kosher"] is False  # zero coords
    codes3 = {a["code"]: a["qa_status"] for a in r3["assertions"]}
    assert codes3[4] == 0  # zeroCoordinates
    assert codes3[20002] == 0  # badlyFormedBasisOfRecord
    # default value applied from dr2 before bor stage
    assert r3["processed"]["basisOfRecord"] == "HumanObservation"
    assert r3["matched_taxonConceptID"] is None
    assert codes3[10004] == 0  # nameNotRecognised

    r4 = rows["occ4"]
    codes4 = {a["code"]: a["qa_status"] for a in r4["assertions"]}
    assert codes4[30008] == 0  # missingCollectionDate
    assert codes4[43] == 0  # locationNotSupplied
    # defaults fill bor without assertions
    assert r4["processed"]["basisOfRecord"] == "HumanObservation"


def test_chain_plan_is_single_pass(spark, occurrences):
    """scan -> one mapInPandas, no shuffle: for the chain alone and for
    run_pipeline with no dimensions (nothing to join)."""
    from biocache_store_spark.pipeline import Dimensions, run_pipeline

    for out in (
        process_records(occurrences, today=TODAY),
        run_pipeline(occurrences, Dimensions(), today=TODAY),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        assert "Exchange" not in plan, plan


def test_assertion_rollups(spark, occurrences):
    """Index-time assertion roll-ups as array higher-order functions
    (SolrIndexDAO.extractPassAndFailed, index/SolrIndexDAO.scala:609-629)."""
    out = process_records(occurrences, today=TODAY)
    rolled = out.select(
        "occurrenceID",
        F.size(F.filter("assertions", lambda a: a["qa_status"] == 0)).alias("n_failed"),
        F.size(F.filter("assertions", lambda a: a["qa_status"] == 1)).alias("n_passed"),
    ).collect()
    by_id = {r["occurrenceID"]: r for r in rolled}
    assert by_id["occ1"]["n_failed"] >= 1  # missing uncertainty etc.
    assert by_id["occ1"]["n_passed"] >= 5


def _ddl(cols):
    return ", ".join(f"{c} string" for c in cols)


def _vocab_case():
    rows = [
        ("h1", "dr1", "PreservedSpecimen", "holotype material", "native",
         "present", "1978-12-31", "-35.2", "144.8", "WGS84"),
        ("h2", "dr1", "preserved_specimen", "HOLOTYPUS", "naturalised; indigenous",
         "absent", None, None, None, None),
        ("h3", "dr2", "garbage-bor", "junk", "garbage", "", "2000-01-01",
         "0", "0", "WGS84"),
        ("h4", "dr2", None, None, None, None, None, None, None, None),
        ("h5", "dr3", "", "paratype and syntype", None, "zzz-no-such", None,
         "10", "20", "WGS84"),
    ]
    cols = [
        "occurrenceID", "dataResourceUid", "basisOfRecord", "typeStatus",
        "establishmentMeans", "occurrenceStatus", "eventDate",
        "decimalLatitude", "decimalLongitude", "geodeticDatum",
    ]
    defaults = {
        "dr2": {"basisOfRecord": "HumanObservation"},
        "dr3": {"typeStatus": "neotype"},
    }
    return rows, cols, defaults


def _memo_case():
    # 4 distinct date tuples x 5 distinct coordinate tuples across 40
    # records -> heavy per-task memo reuse; a few deliberately dirty
    rows = [
        (f"m{i:02d}", "dr1", "PreservedSpecimen", None, None, None,
         ["1978-12-31", "2000-01-01", "bogus-date", None][i % 4],
         ["-35.2", "0", "91.0", None, "abc"][i % 5],
         ["144.8", "0", "200.0", None, "144.8"][i % 5],
         "WGS84")
        for i in range(40)
    ]
    cols = [
        "occurrenceID", "dataResourceUid", "basisOfRecord", "typeStatus",
        "establishmentMeans", "occurrenceStatus", "eventDate",
        "decimalLatitude", "decimalLongitude", "geodeticDatum",
    ]
    return rows, cols, {}


def _missing_vocab_case():
    rows = [("v1", "dr1", "-35.2", "144.8", "WGS84")]
    cols = ["occurrenceID", "dataResourceUid", "decimalLatitude",
            "decimalLongitude", "geodeticDatum"]
    return rows, cols, {}


def _event_case():
    rows = [
        # future year: parse rejects it outright, so the dr3 default survives
        ("e1", "dr3", "3025-01-02", None, None, None, None),
        # components assemble; event fields from day/month/year
        ("e2", "dr1", None, None, "12", "3", "1999"),
        # separately-supplied end date: differing day nullifies day
        ("e3", "dr1", "1987-05-14", "1987-05-16", None, None, None),
        ("e4", "dr1", None, None, None, None, None),
    ]
    cols = ["occurrenceID", "dataResourceUid", "eventDate", "eventDateEnd",
            "month", "day", "year"]
    return rows, cols, {"dr3": {"eventDate": "1999-01-01"}}


def _location_case():
    rows = [
        ("l1", "dr1", "-35.5", "149.25", "WGS84", "Australia"),
        ("l2", "dr1", "0", "0", "WGS84", None),            # zero -> not kosher
        ("l3", "dr1", "149.25", "-35.5", "WGS84", None),    # inverted
        ("l4", "dr2", None, None, None, "vic"),             # state inference
        ("l5", "dr1", "-200.5", "149.25", "WGS84", None),   # out of range
    ]
    cols = ["occurrenceID", "dataResourceUid", "decimalLatitude",
            "decimalLongitude", "geodeticDatum", "country"]
    return rows, cols, {}


@pytest.mark.parametrize(
    "case",
    [_vocab_case, _memo_case, _missing_vocab_case, _event_case, _location_case],
    ids=["vocab", "memo", "missing_vocab", "event", "location"],
)
def test_chain_matches_per_record_reference(spark, case):
    """process_records (one Arrow pass, per-task event/location memo,
    vocabulary match cache) must reproduce the plain per-record
    process_record exactly: the processed struct, the assertion array in
    order, and the kosher flag."""
    from biocache_store_spark.processors.assertions import geospatially_kosher
    from biocache_store_spark.processors.chain import (
        PROCESSED_FIELDS,
        process_record,
    )

    rows, cols, defaults = case()
    df = spark.createDataFrame(rows, _ddl(cols))
    out_df = process_records(df, defaults, today=TODAY)
    # no helper columns leak: input columns plus the three chain outputs
    assert out_df.columns == cols + ["processed", "assertions", "geospatially_kosher"]
    out = {r["occurrenceID"]: r for r in out_df.collect()}
    assert out.keys() == {r[0] for r in rows}
    for row in rows:
        raw = dict(zip(cols, row))
        processed, assertions = process_record(
            raw, defaults.get(raw["dataResourceUid"]), TODAY
        )
        got = out[raw["occurrenceID"]]
        expected = {
            f: "|".join(v) if isinstance(v := processed.get(f), (list, tuple)) else v
            for f in PROCESSED_FIELDS
        }
        assert got["processed"].asDict() == expected, raw["occurrenceID"]
        assert [tuple(a) for a in got["assertions"]] == [
            (a.code, a.name, a.qa_status, a.comment) for a in assertions
        ], raw["occurrenceID"]
        assert got["geospatially_kosher"] == geospatially_kosher(assertions)

    if case is _event_case:
        assert out["e1"]["processed"]["eventDate"] == "1999-01-01"  # default kept
    if case is _missing_vocab_case:
        assert out["v1"]["processed"]["occurrenceStatus"] == "present"
    if case is _location_case:
        assert not out["l2"]["geospatially_kosher"]
        assert out["l1"]["geospatially_kosher"]


def test_index_kingdom_from_matched_taxon(spark):
    """The index's parsed kingdom is the matched taxon's kingdom (null when
    the name does not match); raw_kingdom stays the verbatim value."""
    from biocache_store_spark.pipeline import Dimensions, ingest

    taxa = spark.createDataFrame(
        [("Macropus rufus", "urn:lsid:mr", "species", 10, 11, "Red Kangaroo",
          "Animalia")],
        "scientificName string, taxonConceptID string, taxonRank string, "
        "lft int, rgt int, vernacularName string, kingdom string",
    )
    records = spark.createDataFrame(
        [("k1", "dr1", "Macropus rufus", "animalia"),
         ("k2", "dr1", "Unknownus speciesus", "Plantae")],
        "occurrenceID string, dataResourceUid string, scientificName string, "
        "kingdom string",
    )
    rows = {r["id"]: r for r in ingest(records, Dimensions(taxa=taxa), TODAY)
            .select("id", "kingdom", "raw_kingdom").collect()}
    assert rows["k1"]["kingdom"] == "Animalia"
    assert rows["k1"]["raw_kingdom"] == "animalia"
    assert rows["k2"]["kingdom"] is None
    assert rows["k2"]["raw_kingdom"] == "Plantae"
