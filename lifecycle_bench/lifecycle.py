"""The occurrence lifecycle, run through the program's public functions.

Three phases, each the path of one kind of biocache user:

* `ingest`   data manager: DwC-A directories -> load -> process -> sample
             -> index -> resource-partitioned store;
* `query`    portal/API user: a closed loop, one client, of searches,
             facets, spatial queries, record lookups and downloads over
             that store;
* `maintain` curator (traced runs): duplicate detection, an
             environmental jackknife, expert-range outliers, stored
             validation rules and the user-assertion overlay over the
             stored index.

Every phase checks its outputs against the generator's ground truth and
records failures in `Checks`; a failed check marks the run incorrect.
Layer calls go through `tracer.call`/`tracer.span`, which record spans in
a traced run and pass straight through otherwise.
"""

from __future__ import annotations

import contextlib
import csv
import datetime as dt
import glob
import os
import random
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen

from biocache_store_spark import pipeline as pipeline_mod
from biocache_store_spark import store as store_mod
from biocache_store_spark.exports import exporters
from biocache_store_spark.operators import (
    dedup,
    index_projection,
    jackknife,
    outlier_distribution,
    sampling,
    user_assertions,
    validation_rules,
)
from biocache_store_spark.plans import solr_query
from biocache_store_spark.processors import sds
from biocache_store_spark.sources import dwca

# processing date pinned so "today"-relative assertions repeat exactly
TODAY = dt.date(2026, 1, 1)
QUERY_KINDS = ("search", "facet", "spatial", "lookup", "download")
FACET_FIELDS = ("basis_of_record", "data_resource_uid", "taxon_name", "type_status",
                "occurrence_year", "kingdom")
DOWNLOAD_FIELDS = ["id", "data_resource_uid", "taxon_name", "latitude",
                   "longitude", "occurrence_year", "basis_of_record"]
PAGE_ROWS = 20
SNAPSHOT_COLS = ("id", "data_resource_uid", "occurrence_year", "basis_of_record",
                 "latitude", "longitude", "sensitive_latitude", "assertions_failed",
                 *FACET_FIELDS)
# index columns the curator operators read in place of raw DwC terms
INDEX_COLS = {
    "taxon_col": "taxon_concept_lsid", "lat_col": "latitude", "lon_col": "longitude",
}


class Untraced:
    """The tracer interface with no recording: calls pass straight through."""

    def call(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextlib.contextmanager
    def span(self, name):
        yield None


@dataclass
class Checks:
    """Ground-truth checks; each failure is kept with what was expected."""

    failures: list[str] = field(default_factory=list)
    passed: int = 0

    def expect(self, ok: bool, what: str) -> None:
        if ok:
            self.passed += 1
        else:
            self.failures.append(what)


@dataclass
class Run:
    spark: SparkSession
    corpus: gen.Corpus
    archives: list[tuple[str, str]]
    dims: pipeline_mod.Dimensions
    distributions: DataFrame
    tracer: object
    checks: Checks
    # id -> the stored index row's SNAPSHOT_COLS, read once after ingest
    # and checked against the generator; the query checks compute their
    # expected results from it
    index_rows: dict[str, dict] = field(default_factory=dict)


def load_dimensions(spark: SparkSession, paths: dict[str, str]):
    """(Dimensions for run_pipeline, expert distributions)."""
    frames = {name: spark.read.parquet(path) for name, path in paths.items()}
    dims = pipeline_mod.Dimensions(
        taxa=frames["taxa"],
        data_resources=frames["data_resources"],
        sensitive_species=frames["sensitive_species"],
        cl_layers=frames["cl_layers"],
        el_layers=frames["el_layers"],
    )
    return dims, frames["distributions"]


def trace_program_internals(tracer) -> None:
    """Spans for the steps run_pipeline calls internally."""
    tracer.patch(pipeline_mod, "process_records_hybrid", "processors.chain")
    tracer.patch(sds, "apply_sds", "processors.sds")
    tracer.patch(pipeline_mod, "enrich_classification", "processors.taxonomy")
    tracer.patch(pipeline_mod, "enrich_attribution", "processors.attribution")
    tracer.patch(pipeline_mod, "distinct_points", "sampling.distinct_points")
    tracer.patch(pipeline_mod, "sample_points", "sampling.sample_points")
    tracer.patch(pipeline_mod, "enrich_records", "sampling.enrich_records")


# --- ingest ----------------------------------------------------------------


def ingest(run: Run, store_path: str) -> None:
    """Bulk ingest of every archive into the store at `store_path`.

    The loaded records are written to a raw store first and processing
    reads them back, as the load and process stages of a biocache
    deployment do; without it every eager step of the pipeline would
    re-read all archive files."""
    t, spark = run.tracer, run.spark
    raw_path = store_path + ".raw"
    with t.span("ingest"):
        # the loaders are lazy: the raw-store write is where they read
        with t.span("sources.load"):
            frames = [dwca.load_archive(spark, path, uid, ["occurrenceID"])
                      for uid, path in run.archives]
            raw = reduce(lambda a, b: a.unionByName(b), frames)
            exporters.write_occurrence_store(raw, raw_path)
        raw = spark.read.parquet(raw_path)
        processed = t.call("processors.run_pipeline", pipeline_mod.run_pipeline,
                           raw, run.dims, today=TODAY)
        index = t.call("index_projection.build_index", index_projection.build_index,
                       processed)
        t.call("exports.store_write", exporters.write_occurrence_store, index,
               store_path, partition_by=("data_resource_uid",))


def store_files(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under a store directory."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(p) for p in files)


def check_ingest(run: Run, store: DataFrame) -> None:
    """Check the stored index against the generator and keep its snapshot
    in `run.index_rows`."""
    checks, corpus = run.checks, run.corpus
    facets = {r["facet_value"]: r["facet_count"] for r in
              index_projection.facet_counts(store, "data_resource_uid").collect()}
    checks.expect(facets == corpus.resource_counts(),
                  "facet_counts(data_resource_uid) differs from per-resource counts")
    rows = {r["id"]: r.asDict() for r in store.select(*dict.fromkeys(SNAPSHOT_COLS)).collect()}
    run.index_rows = rows
    checks.expect(len(rows) == len(corpus.records),
                  f"index rows {len(rows)} != generated records {len(corpus.records)}")

    def ids(case: str) -> list[str]:
        return sorted(k.split("|", 1)[1] for k in corpus.planted[case])

    for rid in ids("invalid_bor"):
        checks.expect(rid in rows and "badlyFormedBasisOfRecord" in rows[rid]["assertions_failed"],
                      f"{rid}: planted invalid basisOfRecord not asserted")
    for rid in ids("out_of_range"):
        checks.expect(rid in rows and "coordinatesOutOfRange" in rows[rid]["assertions_failed"],
                      f"{rid}: planted out-of-range coordinates not asserted")
    # generalised: the published latitude is the original rounded to the
    # 1 km / 10 km grid and the original is kept for authorised users
    by_id = {k.split("|", 1)[1]: r for k, r in corpus.records.items()}
    sensitive = set(ids("sensitive"))
    for rid in sorted(sensitive):
        row, raw_lat = rows.get(rid), float(by_id[rid]["decimalLatitude"])
        ok = (
            row is not None
            and row["sensitive_latitude"] is not None
            and float(row["sensitive_latitude"]) == raw_lat
            and row["latitude"] is not None
            and abs(row["latitude"] - raw_lat) <= 0.05 + 1e-9
            and round(row["latitude"], 2) == row["latitude"]
        )
        checks.expect(ok, f"{rid}: sensitive record not generalised")
    # the fields the query checks read: basisOfRecord and, for records
    # that are not sensitive (whose event date and coordinates are
    # generalised), the year and the coordinates as given
    out_of_range = set(ids("out_of_range"))
    for rid, row in sorted(rows.items()):
        rec = by_id.get(rid)
        if rec is None:
            continue
        checks.expect(row["basis_of_record"] == gen.BOR_CANONICAL.get(rec["basisOfRecord"]),
                      f"{rid}: basis_of_record {row['basis_of_record']} "
                      f"for {rec['basisOfRecord']}")
        if rid in sensitive:
            continue
        checks.expect(row["occurrence_year"] == gen.event_year(rec),
                      f"{rid}: occurrence_year {row['occurrence_year']} != {gen.event_year(rec)}")
        if rid not in out_of_range:
            checks.expect((row["latitude"], row["longitude"]) == (
                float(rec["decimalLatitude"]), float(rec["decimalLongitude"])),
                f"{rid}: coordinates changed")


# --- query -----------------------------------------------------------------


@dataclass
class Request:
    """One request; q, fq, WKT and bbox are built from these values, so
    the expected result can be computed from them."""

    kind: str
    years: tuple[int, int] | None = None  # inclusive occurrence_year range
    bor: str | None = None  # basis_of_record value
    uid: str | None = None  # data_resource_uid value
    field: str | None = None  # facet field
    rect: tuple[float, float, float, float] | None = None  # minX, minY, maxX, maxY
    key: str | None = None  # rowKey of a lookup
    expected_rows: int | None = None  # generated records matching a download

    @property
    def q(self) -> str:
        if self.kind == "facet":
            return f"basis_of_record:{self.bor}"
        if self.kind == "download":
            return f"data_resource_uid:{self.uid}"
        return f"occurrence_year:[{self.years[0]} TO {self.years[1]}]"

    @property
    def fqs(self) -> list[str]:
        return [f"basis_of_record:{self.bor}"] if self.kind == "search" else []

    @property
    def wkt(self) -> str:
        x0, y0, x1, y1 = self.rect
        return f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def request_blocks(corpus: gen.Corpus, seed: int):
    """Endless seeded stream of request blocks, each holding every kind
    once in shuffled order; values are drawn from the generated data, so
    every request hits records."""
    rng = random.Random(seed * 104729 + 7)
    uids = [uid for uid, _ in corpus.resources]
    counts = corpus.resource_counts()
    keys = sorted(corpus.records)
    taxa = [t for t in corpus.taxa if not t.homonym]
    while True:
        kinds = list(QUERY_KINDS)
        rng.shuffle(kinds)
        block = []
        for kind in kinds:
            # one query form per kind, values drawn per request: the
            # latency of a kind then varies with selectivity, not with form
            uid = rng.choice(uids)
            bor = rng.choice(gen.VALID_BOR)
            y0 = rng.randint(1950, 2010)
            if kind == "search":
                block.append(Request(kind, years=(y0, y0 + 20), bor=bor))
            elif kind == "facet":
                block.append(Request(kind, bor=bor, field=rng.choice(FACET_FIELDS)))
            elif kind == "spatial":
                lat, lon = rng.choice(taxa).home
                d = rng.uniform(1.0, 4.0)
                rect = tuple(round(v, 3) for v in (lon - d, lat - d, lon + d, lat + d))
                block.append(Request(kind, years=(y0, y0 + 30), rect=rect))
            elif kind == "lookup":
                block.append(Request(kind, key=rng.choice(keys)))
            else:
                block.append(Request(kind, uid=uid, expected_rows=counts[uid]))
        yield block


def warmup_requests() -> list[Request]:
    """One request of each kind, in the loop's forms, on synthetic values
    that match no record."""
    return [
        Request("search", years=(1, 2), bor="warmup"),
        Request("facet", bor="warmup", field="basis_of_record"),
        Request("spatial", years=(1, 2), rect=(0.0, 0.0, 1.0, 1.0)),
        Request("lookup", key="warmup|warmup"),
        Request("download", uid="warmup"),
    ]


def _request_frame(index: DataFrame, req: Request, t) -> DataFrame:
    """The DataFrame a non-download request collects. The program's calls
    that return one are timed with spans and not materialised, so the
    request's own action does the work."""
    if req.kind == "lookup":
        with t.span("store.get_by_row_key"):
            return store_mod.get_by_row_key(index, req.key.split("|", 1)[1], key_col="id")
    if req.kind == "spatial":
        pred = t.call("plans.qid_predicate", solr_query.qid_predicate, req.q,
                      req.fqs, req.wkt, list(req.rect),
                      lat_col="latitude", lon_col="longitude")
        return index.filter(pred).agg(F.count(F.lit(1)).alias("n"))
    pred = t.call("plans.translate", solr_query.translate, req.q)
    for fq in req.fqs:
        pred = pred & t.call("plans.translate", solr_query.translate, fq)
    if req.kind == "facet":
        with t.span("index_projection.facet_counts"):
            return index_projection.facet_counts(index.filter(pred), req.field)
    return index.filter(pred).orderBy(F.col("occurrence_year").desc_nulls_last(),
                                      F.col("id")).limit(PAGE_ROWS)


def _in_years(row: dict, years: tuple[int, int]) -> bool:
    return row["occurrence_year"] is not None and years[0] <= row["occurrence_year"] <= years[1]


def check_request(run: Run, req: Request, rows, download_dir: str) -> None:
    """Compare a request's output with the result computed in Python from
    the checked index snapshot (lookups and downloads: from the generator)."""
    checks, index = run.checks, run.index_rows.values()
    if req.kind == "lookup":
        rid = req.key.split("|", 1)[1]
        uid = run.corpus.records[req.key]["dataResourceUid"]
        checks.expect(
            len(rows) == 1 and rows[0]["id"] == rid and rows[0]["data_resource_uid"] == uid,
            f"lookup {rid} returned {len(rows)} rows")
    elif req.kind == "download":
        n = 0
        for part in glob.glob(os.path.join(download_dir, "part-*.csv")):
            with open(part, newline="", encoding="utf-8") as f:
                n += sum(1 for _ in csv.reader(f)) - 1
        checks.expect(n == req.expected_rows,
                      f"download {req.q}: {n} rows != {req.expected_rows}")
    elif req.kind == "search":
        hits = [r for r in index if r["basis_of_record"] == req.bor and _in_years(r, req.years)]
        hits.sort(key=lambda r: (-r["occurrence_year"], r["id"]))
        expected = [r["id"] for r in hits[:PAGE_ROWS]]
        checks.expect([r["id"] for r in rows] == expected,
                      f"search {req.q} fq {req.fqs}: page differs from the expected top {PAGE_ROWS}")
    elif req.kind == "facet":
        expected: dict = {}
        for r in index:
            if r["basis_of_record"] == req.bor and r[req.field] is not None:
                expected[r[req.field]] = expected.get(r[req.field], 0) + 1
        got = [(r["facet_value"], r["facet_count"]) for r in rows]
        ordered = all(a[1] >= b[1] for a, b in zip(got, got[1:]))
        checks.expect(dict(got) == expected and len(got) == len(expected) and ordered,
                      f"facet {req.field} under {req.q}: counts differ")
    elif req.kind == "spatial":
        # the WKT and the bbox are the same rectangle; a point on its edge
        # may fall either side, so the count must lie between the points
        # strictly inside and those inside or on the edge
        x0, y0, x1, y1 = req.rect
        inside = on_edge = 0
        for r in index:
            lat, lon = r["latitude"], r["longitude"]
            if lat is None or lon is None or not _in_years(r, req.years):
                continue
            if x0 < lon < x1 and y0 < lat < y1:
                inside += 1
            elif x0 <= lon <= x1 and y0 <= lat <= y1:
                on_edge += 1
        n = rows[0]["n"]
        checks.expect(inside <= n <= inside + on_edge,
                      f"spatial {req.rect} {req.q}: {n} records, expected {inside} "
                      f"(+{on_edge} on the edge)")


def scan_rows(df: DataFrame) -> int | None:
    """Rows output by the file scans of df's last execution, from Spark's
    scan-node metrics; None when the plan exposes none."""
    stack = [df._jdf.queryExecution().executedPlan()]
    total, seen = 0, False
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
                seen = True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total if seen else None


@dataclass
class QueryStats:
    """Per-layer observations of the query loop (filled in traced runs)."""

    plan_s: list[float] = field(default_factory=list)
    exec_s: list[float] = field(default_factory=list)
    scanned: int = 0
    returned: int = 0


def run_request(run: Run, index: DataFrame, req: Request, download_dir: str,
                stats: QueryStats | None, check: bool = True) -> float:
    """Execute one request and check its output; returns its latency in
    seconds. With `stats` (traced runs) the executed plan is obtained
    before the action and timed on its own."""
    t = run.tracer
    t0 = time.perf_counter()
    rows = None
    with t.span(f"query.{req.kind}"):
        if req.kind == "download":
            pred = t.call("plans.translate", solr_query.translate, req.q)
            t.call("exports.export_csv", exporters.export_csv, index.filter(pred),
                   DOWNLOAD_FIELDS, download_dir)
        else:
            df = _request_frame(index, req, t)
            if stats is not None:
                p0 = time.perf_counter()
                with t.span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
                stats.plan_s.append(time.perf_counter() - p0)
            e0 = time.perf_counter()
            with t.span("query.exec"):
                rows = df.collect()
            if stats is not None:
                stats.exec_s.append(time.perf_counter() - e0)
    latency = time.perf_counter() - t0
    if stats is not None and rows is not None:
        scanned = scan_rows(df)
        if scanned is not None:
            stats.scanned += scanned
            stats.returned += max(1, len(rows))
    if check:
        check_request(run, req, rows, download_dir)
    return latency


# --- maintain --------------------------------------------------------------


@dataclass
class MaintainInput:
    rules: list
    previously_asserted: DataFrame
    assertions: DataFrame
    asserted_ids: set[str]


def prepare_maintain(run: Run, seed: int) -> MaintainInput:
    """Seeded stored rules, a previous rule result and a user-assertion
    store, built before the timed pass."""
    corpus, spark = run.corpus, run.spark
    rng = random.Random(seed * 31 + 5)
    ids = sorted(k.split("|", 1)[1] for k in corpus.records)
    y0 = rng.randint(1960, 2000)
    taxon = rng.choice([x for x in corpus.taxa if x.expert])
    lat, lon = taxon.home
    uid = rng.choice(corpus.resources[:10])[0]
    area = (f"POLYGON(({lon - 2:.3f} {lat - 2:.3f}, {lon + 2:.3f} {lat - 2:.3f}, "
            f"{lon + 2:.3f} {lat + 2:.3f}, {lon - 2:.3f} {lat + 2:.3f}, "
            f"{lon - 2:.3f} {lat - 2:.3f}))")
    coords = {"lat_col": "latitude", "lon_col": "longitude"}
    rules = [
        validation_rules.ValidationRule(
            "r1", f"basis_of_record:MachineObservation AND occurrence_year:[{y0} TO {y0 + 15}]",
            30001, "ruleOldMachineObservation", **coords),
        validation_rules.ValidationRule(
            "r2", f'taxon_concept_lsid:"{taxon.lsid}"', 30002, "ruleTaxonArea",
            wkt=area, **coords),
        validation_rules.ValidationRule(
            "r3", f"data_resource_uid:{uid}", 30003, "ruleResourceArea",
            bbox=(lon - 5, lat - 5, lon + 5, lat + 5), **coords),
    ]
    prev = [(i,) for i in sorted(rng.sample(ids, 10))]
    asserted = sorted(rng.sample(ids, 12))
    new = [(k, f"ua-{k}", 20002 + i % 3, 0, "user flagged", "user1", None, i)
           for i, k in enumerate(asserted)]
    store = user_assertions.add_user_assertions(
        user_assertions.empty_store(spark),
        spark.createDataFrame(new, user_assertions.USER_ASSERTION_SCHEMA),
    )
    return MaintainInput(
        rules=rules,
        previously_asserted=spark.createDataFrame(prev, "record_id string"),
        assertions=store.persist(),
        asserted_ids=set(asserted),
    )


@dataclass
class MaintainResult:
    dup_ids: set[str]
    jackknife_taxa: int
    outside: set[str]
    rule_deltas: int
    statuses: dict[int, int]


def maintain(run: Run, store: DataFrame, m: MaintainInput) -> MaintainResult:
    """One curator pass over the stored index."""
    t, el_layers = run.tracer, run.dims.el_layers
    with t.span("maintain"):
        with t.span("dedup"):
            dups = t.call(
                "dedup.detect_duplicates_join", dedup.detect_duplicates_join, store,
                year_col="occurrence_year", month_col="occurrence_month",
                day_col="occurrence_day", collector_col="collector",
                record_number_col="record_number", catalogue_col="catalogue_number",
                id_col="id", druid_col="data_resource_uid", **INDEX_COLS,
            )
            dup_ids = {r["row_key"] for r in
                       dups.filter(F.col("status") != "U").select("row_key").collect()}
        with t.span("jackknife"):
            points = t.call("sampling.distinct_points", sampling.distinct_points, store,
                            lat_col="latitude", lon_col="longitude")
            samples = t.call("sampling.sample_points", sampling.sample_points, points,
                             None, el_layers)
            env = t.call("sampling.enrich_records", sampling.enrich_records,
                         store.select("taxon_concept_lsid", "latitude", "longitude"),
                         samples, lat_col="latitude", lon_col="longitude")
            values = env.select("taxon_concept_lsid",
                                F.col("el")[gen.EL_LAYERS[0]].alias("value"))
            stats = t.call("jackknife.jackknife_stats", jackknife.jackknife_stats, values,
                           ["taxon_concept_lsid"], "value")
            jk_taxa = len(stats.select("taxon_concept_lsid").collect())
        with t.span("outlier_distribution"):
            found = t.call(
                "outlier_distribution.find_outliers", outlier_distribution.find_outliers,
                store, run.distributions, id_col="id", **INDEX_COLS,
            )
            outside = {r["occurrence_id"] for r in
                       found.filter(~F.col("in_range")).select("occurrence_id").collect()}
        with t.span("validation_rules"):
            deltas = [
                t.call("validation_rules.apply_rule_delta", validation_rules.apply_rule_delta,
                       store, rule, m.previously_asserted)
                for rule in m.rules
            ]
            n_deltas = len(reduce(lambda a, b: a.unionByName(b), deltas).collect())
        with t.span("user_assertions"):
            overlay = t.call("user_assertions.overlay_user_status",
                             user_assertions.overlay_user_status, store, m.assertions,
                             key_col="id")
            statuses = {r["user_assertion_status"]: r["count"] for r in
                        overlay.groupBy("user_assertion_status").count().collect()}
    return MaintainResult(dup_ids, jk_taxa, outside, n_deltas, statuses)


def planted_recall(corpus: gen.Corpus, dup_ids: set[str]) -> float:
    """Share of exact planted duplicates that detection put in a group."""
    planted = [k.split("|", 1)[1] for g in corpus.exact_dup_groups for k in g]
    return sum(1 for k in planted if k in dup_ids) / len(planted)


def check_maintain(run: Run, m: MaintainInput, res: MaintainResult) -> None:
    checks, corpus = run.checks, run.corpus
    recall = planted_recall(corpus, res.dup_ids)
    checks.expect(recall == 1.0, f"dedup recall on exact planted duplicates {recall:.3f}")
    for k in sorted(corpus.planted["expert_outside"]):
        rid = k.split("|", 1)[1]
        checks.expect(rid in res.outside, f"{rid}: planted expert-range outlier not found")
    expected = {user_assertions.QA_UNCONFIRMED: len(m.asserted_ids),
                user_assertions.QA_NONE: len(corpus.records) - len(m.asserted_ids)}
    checks.expect(res.statuses == expected,
                  f"user-assertion overlay statuses {res.statuses} != {expected}")
