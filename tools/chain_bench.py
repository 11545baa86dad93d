"""Chain throughput: the 12-stage memoized per-record pass.

Synthesizes occurrence-shaped records from the lineitem table at
$SPARK_GRAFT_SF_DIR (default sf0.1), or `--rows N` of them from
spark.range, and times process_records end-to-end (a noop write forces
the full pass). Prints one JSON line: records, wall seconds and
records/sec. `--stages [N]` instead attributes single-threaded wall time
to each stage over N synthetic records.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biocache_store_spark.io import read_table  # noqa: E402
from biocache_store_spark.processors.chain import process_records  # noqa: E402
from biocache_store_spark.session import get_spark  # noqa: E402


def occurrences(spark, sf_dir, n_rows: int | None = None):
    """Occurrence-shaped rows from lineitem (default) or spark.range
    (`n_rows`, for the 2M/20M scale points)."""
    if n_rows is not None:
        src = spark.range(n_rows)
        k = F.col("id")
    else:
        lineitem = read_table(spark, sf_dir, "lineitem")
        src = lineitem
        k = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return src.select(
        F.concat(F.lit("l"), k.cast("string")).alias("occurrenceID"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.pmod(k, F.lit(3)) + 1).cast("int"),
        ).alias("dataResourceUid"),
        F.element_at(
            F.array(
                F.lit("PreservedSpecimen"),
                F.lit("HumanObservation"),
                F.lit("S"),
                F.lit("MachineObservation"),
            ),
            (F.pmod(k, F.lit(4)) + 1).cast("int"),
        ).alias("basisOfRecord"),
        F.element_at(
            F.array(F.lit("holotype"), F.lit("HOLOTYPUS material"), F.lit("")),
            (F.pmod(k, F.lit(3)) + 1).cast("int"),
        ).alias("typeStatus"),
        F.element_at(
            F.array(F.lit("native"), F.lit("naturalised; indigenous"), F.lit("")),
            (F.pmod(k, F.lit(3)) + 1).cast("int"),
        ).alias("establishmentMeans"),
        F.element_at(
            F.array(F.lit("present"), F.lit("absent"), F.lit("")),
            (F.pmod(k, F.lit(3)) + 1).cast("int"),
        ).alias("occurrenceStatus"),
        F.concat(
            F.lit("19"),
            F.lpad(F.pmod(k, F.lit(99)).cast("string"), 2, "0"),
            F.lit("-0"),
            (F.pmod(k, F.lit(9)) + 1).cast("string"),
            F.lit("-1"),
            F.pmod(k, F.lit(9)).cast("string"),
        ).alias("eventDate"),
        F.concat(F.lit("-"), F.pmod(k, F.lit(80)).cast("string"), F.lit(".5")).alias(
            "decimalLatitude"
        ),
        F.concat(F.pmod(k, F.lit(160)).cast("string"), F.lit(".25")).alias(
            "decimalLongitude"
        ),
        F.lit("WGS84").alias("geodeticDatum"),
    )


def synthetic_dicts(n: int) -> list[dict]:
    """The occurrences() mix as plain dicts — the same value families
    without a Spark session, for driver-side per-stage attribution."""
    basis = ["PreservedSpecimen", "HumanObservation", "S", "MachineObservation"]
    types = ["holotype", "HOLOTYPUS material", ""]
    est = ["native", "naturalised; indigenous", ""]
    status = ["present", "absent", ""]
    rows = []
    for k in range(n):
        rows.append(
            {
                "occurrenceID": f"l{k}",
                "dataResourceUid": "AR"[k % 2],
                "basisOfRecord": basis[k % 4],
                "typeStatus": types[k % 3],
                "establishmentMeans": est[k % 3],
                "occurrenceStatus": status[k % 3],
                "eventDate": f"19{k % 99:02d}-0{k % 9 + 1}-1{k % 9}",
                "decimalLatitude": f"-{k % 80}.5",
                "decimalLongitude": f"{k % 160}.25",
                "geodeticDatum": "WGS84",
            }
        )
    return rows


def profile_stages(n: int) -> None:
    """Per-stage wall-clock attribution over n synthetic records — the
    round-10 answer to 'which of the 12 stages is the Python rate
    bound' (VERDICT r9 task #2). Single-threaded on the driver so the
    numbers are pure stage cost, uninflated by Arrow or scheduling."""
    import time as _t

    import datetime as _dtm

    from biocache_store_spark.processors.chain import process_record
    from biocache_store_spark.processors.event import process_event
    from biocache_store_spark.processors.identification import (
        process_identification_checks,
        process_identification_qualifier,
        process_images,
        process_interactions,
        process_misc_occurrence,
        process_offline_tests,
        process_reprocessing,
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

    rows = synthetic_dicts(n)
    today = _dtm.date(2026, 1, 1)
    stages = [
        ("misc.images", lambda r, p: process_images(r, p)),
        ("misc.interactions", lambda r, p: process_interactions(r, p)),
        ("misc.occurrenceStatus", lambda r, p: process_occurrence_status(r, p)),
        ("misc.establishmentMeans", lambda r, p: process_establishment_means(r, p)),
        ("misc.recordedBy", lambda r, p: process_recorded_by(r, p)),
        ("misc.identificationChecks", lambda r, p: process_identification_checks(r)),
        ("misc.miscOccurrence", lambda r, p: process_misc_occurrence(r)),
        ("offlineTests", lambda r, p: process_offline_tests(p, None, None)),
        ("attribution.license", lambda r, p: process_license(r, p)),
        ("basisOfRecord", lambda r, p: process_basis_of_record(r, p)),
        ("event", lambda r, p: process_event(r, today)),
        ("location", lambda r, p: process_location(r)),
        ("typeStatus", lambda r, p: process_type_status(r, p)),
        ("identificationQualifier",
         lambda r, p: process_identification_qualifier(r, p)),
        ("reprocessing", lambda r, p: process_reprocessing(p, None)),
    ]
    table = {}
    for name, fn in stages:
        t0 = _t.perf_counter()
        for r in rows:
            fn(r, {})
        table[name] = _t.perf_counter() - t0
    t0 = _t.perf_counter()
    for r in rows:
        process_record(r, today=today)
    total = _t.perf_counter() - t0
    print(json.dumps({"records": n, "whole_process_record_sec": round(total, 2)}))
    for name, sec in sorted(table.items(), key=lambda kv: -kv[1]):
        print(
            f"{name:28s} {sec:7.2f} s  {n / sec:>9.0f} rec/s "
            f"{100 * sec / total:5.1f}% of whole-chain"
        )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--stages":
        profile_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 500_000)
        return
    n_rows = None
    args = sys.argv[1:]
    if len(args) > 1 and args[0] == "--rows":
        n_rows = int(float(args[1]))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark()
    occ = occurrences(spark, sf_dir, n_rows)
    n = occ.count()
    # warm the JVM/codegen/Python workers so the timed pass pays no
    # first-call cost
    process_records(occ.limit(2000)).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    process_records(occ).select(
        F.col("processed")["basisOfRecord"], F.col("geospatially_kosher")
    ).write.format("noop").mode("overwrite").save()
    sec = time.time() - t0
    print(json.dumps({
        "records": n,
        "sf_dir": sf_dir,
        "chain_sec": round(sec, 3),
        "chain_rps": round(n / sec),
    }))


if __name__ == "__main__":
    main()
