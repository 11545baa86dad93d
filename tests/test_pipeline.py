"""End-to-end lifecycle: DwC-A -> full pipeline with all dims -> index."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

FIXTURE_DWCA = os.path.join(os.path.dirname(__file__), "fixtures", "test-dwca")


def test_full_ingest(spark):
    from biocache_store_spark.pipeline import Dimensions, ingest
    from biocache_store_spark.sources.dwca import load_archive

    raw = load_archive(spark, FIXTURE_DWCA, "dr0", ["occurrenceID"])
    dims = Dimensions(
        taxa=spark.createDataFrame(
            [("Macropus rufus", "urn:lsid:mr", "species", 10, 11, "Red Kangaroo")],
            "scientificName string, taxonConceptID string, taxonRank string,"
            " lft int, rgt int, vernacularName string",
        ),
        data_resources=spark.createDataFrame(
            [("dr0", "Test Resource", "dp0", "Test Provider", ["hub0"])],
            "dataResourceUid string, dataResourceName string, dataProviderUid string,"
            " dataProviderName string, dataHubUid array<string>",
        ),
        sensitive_species=spark.createDataFrame(
            [("Macropus rufus", "Vulnerable", 10000.0, None)],
            "scientificName string, category string,"
            " generalisationInMetres double, zone string",
        ),
        cl_layers=spark.createDataFrame(
            [("cl_state", "Victoria",
              "POLYGON((141 -39, 150 -39, 150 -34, 141 -34, 141 -39))")],
            "layerID string, name string, wkt string",
        ),
        el_layers=spark.createDataFrame(
            [("el_temp", -35.3, 144.8, 21.5)],
            "layerID string, lat_bin double, lon_bin double, value double",
        ),
    )
    index = ingest(raw, dims, today=dt.date(2026, 8, 13))
    rows = {r["id"]: r for r in index.collect()}
    assert len(rows) == 3

    r1 = rows["urn:occ:1"]
    # sensitivity blurred the kangaroo's coordinates to the 10km grid
    assert r1["latitude"] == -35.2
    assert r1["taxon_concept_lsid"] == "urn:lsid:mr"
    assert r1["common_name"] == "Red Kangaroo"
    assert r1["geospatial_kosher"] is True
    # the emu record is unblurred and carries its exact position
    assert rows["urn:occ:2"]["latitude"] == pytest.approx(-30.1)

    # facet over the final surface
    facets = {
        r["basis_of_record"]: r["cnt"]
        for r in index.groupBy("basis_of_record").agg(F.count("*").alias("cnt")).collect()
    }
    assert facets == {"PreservedSpecimen": 2, "HumanObservation": 1}


def test_benchmark_trace_points_resolve(spark, monkeypatch):
    """The lifecycle benchmark's traced run reaches run_pipeline's steps by
    replacing module attributes; every attribute it patches must exist,
    and the chain hook must be the one run_pipeline calls."""
    import importlib

    from biocache_store_spark.pipeline import Dimensions, run_pipeline

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "lifecycle_bench")
    )
    lifecycle = importlib.import_module("lifecycle")
    calls: list[str] = []

    class RecordingTracer:
        def patch(self, module, attr, name):
            assert hasattr(module, attr), f"{module.__name__}.{attr}"
            original = getattr(module, attr)

            def traced(*args, **kwargs):
                calls.append(name)
                return original(*args, **kwargs)

            monkeypatch.setattr(module, attr, traced)

    lifecycle.trace_program_internals(RecordingTracer())
    raw = spark.createDataFrame(
        [("t1", "dr1", "-35.2", "144.8"), ("t2", "dr1", None, None)],
        "occurrenceID string, dataResourceUid string, decimalLatitude string, "
        "decimalLongitude string",
    )
    out = run_pipeline(raw, Dimensions(), dt.date(2026, 1, 1))
    assert calls == ["processors.chain"]
    assert out.count() == 2


def test_ingest_store_reprocess_lifecycle(spark, tmp_path):
    """The operational loop a reference user runs: ingest -> persist the
    resource-partitioned store -> reprocess ONE resource (partition-scoped
    delete + rewrite, tool/ProcessRecords.scala's resource scoping) ->
    other resources' files untouched, reprocessed values visible."""
    import datetime as dt
    import glob

    from pyspark.sql import functions as F

    from biocache_store_spark.exports.exporters import write_occurrence_store
    from biocache_store_spark.pipeline import run_pipeline

    raw = spark.createDataFrame(
        [
            ("o1", "dr1", "PreservedSpecimen", "-35.5", "149.25", "WGS84"),
            ("o2", "dr1", "garbage-bor", "-36.5", "148.25", "WGS84"),
            ("o3", "dr2", "HumanObservation", "-30.5", "151.25", "WGS84"),
        ],
        ["occurrenceID", "dataResourceUid", "basisOfRecord",
         "decimalLatitude", "decimalLongitude", "geodeticDatum"],
    )
    today = dt.date(2026, 8, 13)
    processed = run_pipeline(raw, today=today).select(
        "occurrenceID", "dataResourceUid",
        F.col("processed")["basisOfRecord"].alias("bor"),
        "geospatially_kosher",
    )
    path = str(tmp_path / "store")
    write_occurrence_store(processed, path)
    dr2_files_before = set(glob.glob(path + "/dataResourceUid=dr2/*.parquet"))

    # reprocess dr1 only: corrected raw record, partition overwrite
    fixed = raw.filter(F.col("dataResourceUid") == "dr1").withColumn(
        "basisOfRecord",
        F.when(F.col("occurrenceID") == "o2", F.lit("MachineObservation"))
        .otherwise(F.col("basisOfRecord")),
    )
    reprocessed = run_pipeline(fixed, today=today).select(
        "occurrenceID", "dataResourceUid",
        F.col("processed")["basisOfRecord"].alias("bor"),
        "geospatially_kosher",
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        reprocessed.write.mode("overwrite").partitionBy("dataResourceUid").parquet(path)
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")

    back = {r["occurrenceID"]: r for r in spark.read.parquet(path).collect()}
    assert len(back) == 3
    assert back["o2"]["bor"] == "MachineObservation"  # reprocessed
    assert back["o3"]["bor"] == "HumanObservation"    # untouched resource
    # dynamic partition overwrite left dr2's files alone
    assert set(glob.glob(path + "/dataResourceUid=dr2/*.parquet")) == dr2_files_before


def test_build_corpus_end_to_end(spark, tmp_path):
    """The composed corpus build: every gate monotonically shrinks the
    corpus, the output has no exact-duplicate texts, near-dup clusters
    keep exactly one member, and the manifest records each stage."""
    from pyspark.sql import functions as F

    from biocache_store_spark.pipeline import build_corpus

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = str(tmp_path / "corpus")
    manifest = build_corpus(
        spark, docs, out,
        quality_threshold=0.3,
        mixture_weights={"src0": 0.5, "src1": 0.5},
        token_budget=50_000,
    )
    stages = {r["stage"] for r in manifest.collect()}
    assert stages == {"0_input", "1_quality", "2_language",
                      "3_exact_dedup", "4_near_dup", "5_mixture"}
    per_stage = {
        s: sum(r["n_docs"] for r in manifest.collect() if r["stage"] == s)
        for s in stages
    }
    order = ["0_input", "1_quality", "2_language", "3_exact_dedup",
             "4_near_dup", "5_mixture"]
    for a, b in zip(order, order[1:]):
        assert per_stage[b] <= per_stage[a]

    kept = spark.read.parquet(out + "/documents")
    n = kept.count()
    assert 0 < n < docs.count()
    assert kept.select(F.md5("text")).distinct().count() == n  # no exact dups
    # deterministic: rebuilding yields identical kept ids
    out2 = str(tmp_path / "corpus2")
    build_corpus(spark, docs, out2, quality_threshold=0.3,
                 mixture_weights={"src0": 0.5, "src1": 0.5}, token_budget=50_000)
    a = {r["doc_id"] for r in kept.collect()}
    b = {r["doc_id"] for r in spark.read.parquet(out2 + "/documents").collect()}
    assert a == b


def test_build_corpus_substring_stages(spark, tmp_path):
    """The optional 3b/3c substring stages: a cross-document boilerplate
    repeat is cut everywhere but its corpus-first occurrence, an
    eval-leaked passage is cut from train docs, docs cut to nothing are
    dropped, and the manifest gains the two stage rows — gates stay
    monotone."""
    import random
    import string

    from biocache_store_spark.pipeline import build_corpus

    rng = random.Random(5)
    alphabet = string.ascii_lowercase + " "

    def words(n):
        return " ".join(
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 8)))
            for _ in range(n)
        )

    boiler = "subscribe to our newsletter for updates " * 3  # 120 chars
    leak = "the capital of france is paris and the capital of spain is madrid"
    rows = []
    bodies = {}
    for i in range(12):
        body = words(40)
        bodies[i] = body
        text = body if i % 3 else boiler + body  # every 3rd carries boiler
        if i == 7:
            text = body + " " + leak  # one contaminated doc
        rows.append((i, text, "en", f"src{i % 2}"))
    rows.append((100, boiler, "en", "src0"))  # pure-boilerplate doc: drops
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    eval_docs = spark.createDataFrame(
        [(0, "q: " + leak + "?")], "doc_id long, text string"
    )
    out = str(tmp_path / "corpus_ss")
    manifest = build_corpus(
        spark, docs, out,
        quality_threshold=0.0,
        substring_dedup_min_len=40,
        decontaminate_eval=eval_docs,
        decontaminate_min_len=40,
        substring_anchor_hex_zeros=0,  # exact mode: deterministic recall
    )
    stages = [r["stage"] for r in manifest.collect()]
    assert "3b_substring_dedup" in stages and "3c_decontaminate" in stages
    kept = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(out + "/documents").collect()}
    assert 100 not in kept  # cut to nothing -> dropped
    # only the corpus-first WINDOW of the repeat survives (Lee et al.
    # window semantics: every later window of the region, even inside
    # the first document, duplicates an earlier one) — so no kept doc
    # carries the full boilerplate, while every doc's unique body does
    assert not any(boiler in t for t in kept.values())
    for d, body in bodies.items():
        if d in kept:
            assert body in kept[d], d
    assert 7 in kept and leak not in kept[7]  # decontaminated
    # pair validation
    import pytest as _pytest
    with _pytest.raises(ValueError, match="decontaminate"):
        build_corpus(spark, docs, out, decontaminate_eval=eval_docs)


def test_build_corpus_null_lang_passes_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from biocache_store_spark.pipeline import build_corpus

    docs = spark.createDataFrame(
        [(i, "the and of to in words here now " * 5, None, "s")
         for i in range(4)],
        "doc_id long, text string, lang string, source string",
    )
    build_corpus(spark, docs, str(tmp_path / "c"), quality_threshold=0.0)
    kept = spark.read.parquet(str(tmp_path / "c") + "/documents")
    assert kept.count() == 1  # exact dedup collapses; lang gate passed all


def test_build_corpus_zero_weight_source_excluded(spark, tmp_path):
    from biocache_store_spark.pipeline import build_corpus

    rows = [(i, f"unique doc {i} with the and of to in", "en",
             "keep" if i % 2 else "drop") for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    build_corpus(
        spark, docs, str(tmp_path / "c"), quality_threshold=0.0,
        mixture_weights={"keep": 1.0, "drop": 0.0}, token_budget=10_000,
    )
    kept = spark.read.parquet(str(tmp_path / "c") + "/documents")
    assert kept.filter("source = 'drop'").count() == 0  # rate 0 leaks nothing
    assert kept.filter("source = 'keep'").count() > 0


def test_build_corpus_requires_both_mixture_args(spark, tmp_path):
    import pytest as _pytest

    from biocache_store_spark.pipeline import build_corpus

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    with _pytest.raises(ValueError, match="together"):
        build_corpus(spark, docs, str(tmp_path / "c"),
                     mixture_weights={"s": 1.0})


def test_build_corpus_model_and_dsir_gates(spark, tmp_path):
    """The optional 1b (NB model) and 2b (DSIR threshold) gates: each
    stage appears in the manifest, shrinks the corpus monotonically,
    the model gate's count equals a directly computed nb_classify keep
    set (exact wiring — the fixture's lang column is independent of its
    text, so the classifier correctly predicts the prior and a
    'shrinks strictly' assertion would test the data, not the gate),
    and half-given arguments raise instead of silently skipping."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from biocache_store_spark.operators.classifier import (
        nb_classify,
        read_nb_model,
        train_nb,
        write_nb_model,
    )
    from biocache_store_spark.pipeline import build_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.filter(F.col("source") == "src0")

    model_path = str(tmp_path / "nb")
    m, l = train_nb(docs.select("doc_id", "text", F.col("lang").alias("label")))
    write_nb_model(m, l, model_path)

    out = str(tmp_path / "corpus")
    manifest = build_corpus(
        spark, docs, out,
        quality_threshold=0.0,
        nb_model_path=model_path, nb_keep_label="en",
        dsir_target=target, dsir_threshold=0.5,
    )
    rows = manifest.collect()
    stages = {r["stage"] for r in rows}
    assert {"1b_model_gate", "2b_dsir_gate"} <= stages
    per_stage = {
        s: sum(r["n_docs"] for r in rows if r["stage"] == s) for s in stages
    }
    order = ["0_input", "1_quality", "1b_model_gate", "2_language",
             "2b_dsir_gate", "3_exact_dedup", "4_near_dup"]
    for a, b in zip(order, order[1:]):
        assert per_stage[b] <= per_stage[a]
    # exact wiring: quality_threshold=0.0 keeps every doc, so the model
    # gate's manifest count must equal nb_classify's argmax-'en' count
    # over the full corpus
    m2, l2, n_hex = read_nb_model(spark, model_path)
    expected = (
        nb_classify(docs, m2, l2, n_hex=n_hex)
        .filter(F.col("label") == "en")
        .count()
    )
    assert per_stage["1b_model_gate"] == expected

    with _pytest.raises(ValueError, match="nb_model_path"):
        build_corpus(spark, docs, str(tmp_path / "x1"), nb_model_path=model_path)
    with _pytest.raises(ValueError, match="dsir_target"):
        build_corpus(spark, docs, str(tmp_path / "x2"), dsir_threshold=0.5)
