"""Command-line tool surface: `python -m biocache_store_spark <tool>`.

The reference is operated entirely through a registry of named CLI tools
(cmd/CMD2.scala:197-250 — DwCALoader, DwcCSVLoader, ProcessRecords,
IndexRecords, Sampling, ExportFacet, ExportFromIndex, DwCACreator,
DuplicationDetection, ReverseJacknifeProcessor, DeleteRecords,
DescribeResource, Healthcheck, IngestTool, ShowVersion, ...). This module
is the same operational surface over the Spark-native engine: each
subcommand parses arguments, builds (or reuses) the SparkSession, calls
the corresponding library function, and writes parquet/CSV/zip output.

Design rules:
  * subcommands are THIN — all logic lives in the library modules, so the
    CLI adds operability without forking behavior from the tested API;
  * every store-mutating tool reads from `--in` and writes to `--out`
    (parquet stores are immutable snapshots; the reference mutates
    Cassandra in place, which has no safe Spark-parquet equivalent);
  * `--query` accepts the reference's SOLR query syntax and is translated
    to a pushable Column predicate (plans/solr_query.py translate), the
    same path the stored-query operators use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

__version__ = "0.5.0"


def _spark(args):
    from biocache_store_spark.session import get_spark

    return get_spark(app_name=f"biocache-{args.tool}")


def _read(spark, path):
    return spark.read.parquet(path)


def _apply_query(df, query: str | None):
    if query:
        from biocache_store_spark.plans.solr_query import translate

        df = df.filter(translate(query))
    return df


def _split(s: str | None) -> list[str]:
    return [p.strip() for p in s.split(",") if p.strip()] if s else []


# ---------------------------------------------------------------- loaders


def cmd_load_dwca(args) -> int:
    """DwCALoader (load/DwCALoader.scala): extracted archive dir ->
    occurrence store partitioned by dataResourceUid."""
    from biocache_store_spark.exports.exporters import write_occurrence_store
    from biocache_store_spark.sources.dwca import load_archive

    spark = _spark(args)
    df = load_archive(
        spark, args.archive, args.dr, unique_terms=_split(args.unique_terms) or None
    )
    write_occurrence_store(df, args.out)
    print(f"loaded dwca {args.archive} -> {args.out}")
    return 0


def cmd_load_csv(args) -> int:
    """DwcCSVLoader (load/DwcCSVLoader.scala): header-mapped CSV with
    uuid5 identity minting -> occurrence store."""
    from biocache_store_spark.exports.exporters import write_occurrence_store
    from biocache_store_spark.sources.csv_loader import load_csv

    spark = _spark(args)
    df = load_csv(
        spark,
        args.path,
        args.dr,
        unique_terms=_split(args.unique_terms),
        delimiter=args.delimiter,
    )
    write_occurrence_store(df, args.out)
    print(f"loaded csv {args.path} -> {args.out}")
    return 0


def cmd_load_jsonl(args) -> int:
    """JSONL corpus adapter (sources/jsonl.py) -> documents store."""
    from biocache_store_spark.sources.jsonl import load_jsonl

    spark = _spark(args)
    df = load_jsonl(spark, args.path, source=args.source)
    df.write.mode("overwrite").parquet(args.out)
    print(f"loaded jsonl {args.path} -> {args.out}")
    return 0


# ------------------------------------------------------------- lifecycle


def _dims_from_args(spark, args):
    from biocache_store_spark.pipeline import Dimensions

    def opt(path):
        return _read(spark, path) if path else None

    return Dimensions(
        taxa=opt(getattr(args, "taxa", None)),
        data_resources=opt(getattr(args, "attribution", None)),
        sensitive_species=opt(getattr(args, "sds", None)),
        cl_layers=opt(getattr(args, "cl_layers", None)),
        el_layers=opt(getattr(args, "el_layers", None)),
        state_layer=getattr(args, "state_layer", None),
    )


def cmd_process(args) -> int:
    """ProcessRecords / ProcessLocalRecords (processing/RecordProcessor
    via tool/ProcessRecords.scala): raw store -> processed store through
    the 12-stage chain (+ optional enrichment dims). --uuids scopes to a
    comma-separated uuid/rowKey list (tool/ProcessUuids.scala)."""
    from biocache_store_spark.exports.exporters import write_occurrence_store
    from biocache_store_spark.pipeline import run_pipeline

    spark = _spark(args)
    raw = _apply_query(_read(spark, args.inp), args.query)
    if args.uuids:
        from pyspark.sql import functions as F

        wanted = _split(args.uuids)
        keys = [c for c in ("uuid", "rowKey") if c in raw.columns]
        if not keys:
            print("process: store has neither uuid nor rowKey", file=sys.stderr)
            return 2
        cond = F.col(keys[0]).isin(wanted)
        for c in keys[1:]:
            cond = cond | F.col(c).isin(wanted)
        raw = raw.filter(cond)
    processed = run_pipeline(raw, _dims_from_args(spark, args))
    partition = ("dataResourceUid",) if "dataResourceUid" in processed.columns else ()
    if partition:
        write_occurrence_store(processed, args.out, partition_by=partition)
    else:
        processed.write.mode("overwrite").parquet(args.out)
    print(f"processed {args.inp} -> {args.out}")
    return 0


def cmd_sample(args) -> int:
    """Sampling / SampleLocalRecords (tool/Sampling.scala): distinct
    coordinates -> cl/el layer samples store (the `loc` table)."""
    from biocache_store_spark.operators.sampling import distinct_points, sample_points

    spark = _spark(args)
    records = _read(spark, args.inp)
    dims = _dims_from_args(spark, args)
    points = distinct_points(records)
    samples = sample_points(points, dims.cl_layers, dims.el_layers)
    samples.write.mode("overwrite").parquet(args.out)
    print(f"sampled {args.inp} -> {args.out}")
    return 0


def cmd_index(args) -> int:
    """IndexRecords / IndexLocalRecordsV2 (index/SolrIndexDAO.scala):
    processed store -> flat ~160-column index table."""
    from biocache_store_spark.operators.index_projection import build_index

    spark = _spark(args)
    processed = _read(spark, args.inp)
    assertions = _read(spark, args.assertions) if args.assertions else None
    outliers = (
        _read(spark, args.outliers) if getattr(args, "outliers", None) else None
    )
    idx = build_index(
        processed,
        include_deleted=args.include_deleted,
        user_assertions=assertions,
        outliers=outliers,
        key_col=args.key_col,
    )
    idx.write.mode("overwrite").parquet(args.out)
    print(f"indexed {args.inp} -> {args.out}")
    return 0


def cmd_index_query(args) -> int:
    """ReprocessIndexSelect ("index-query",
    tool/ReprocessIndexSelect.scala:20-63): query the index -> row-key
    scope file -> reprocess the matching records -> reindex them, as ONE
    command. `--exist` reuses the saved scope file instead of re-running
    the query (:32-34, the reference's reprocess_index_rowkeys.out);
    `--index-only` skips the reprocess (:36-38). The parquet analog of
    "reindex the list" is a keyed replace: index rows whose key is in
    scope are rebuilt from the (re)processed store, every other row
    passes through untouched — and the same replace-scoped-rows contract
    applies to the processed store when `--prev-processed` is given."""
    from pyspark.sql import functions as F

    from biocache_store_spark.exports.exporters import write_occurrence_store
    from biocache_store_spark.operators.index_projection import build_index
    from biocache_store_spark.pipeline import run_pipeline

    if not args.exist and not args.query:
        print("index-query: need --query (or --exist with a saved --scope)",
              file=sys.stderr)
        return 2
    if args.exist and args.query:
        # the reference's exist/query flags are mutually exclusive
        # (ReprocessIndexSelect.scala:32-34): silently preferring the
        # saved scope would reprocess the WRONG records for a user who
        # edited the query but forgot to drop --exist
        print("index-query: --exist and --query are mutually exclusive "
              "(--exist replays the saved --scope; drop one)",
              file=sys.stderr)
        return 2
    if not args.index_only and not (args.raw and args.out):
        print("index-query: reprocessing needs --raw and --out "
              "(or pass --index-only)", file=sys.stderr)
        return 2
    if args.index_only and not getattr(args, "prev_processed", None):
        print("index-query: --index-only reindexes from --prev-processed; "
              "supply it", file=sys.stderr)
        return 2
    inputs = [args.index] + [
        p for p in (args.raw, getattr(args, "prev_processed", None)) if p
    ]
    if args.exist:
        inputs.append(args.scope)
    for target, flag in (
        (None if args.exist else args.scope, "--scope"),
        (None if args.index_only else args.out, "--out"),
        (args.index_out, "--index-out"),
    ):
        if target:
            if _refuse_inplace_out("index-query", inputs, target, flag=flag):
                return 2
            inputs.append(target)
    spark = _spark(args)
    index = _read(spark, args.index)
    if args.exist:
        keys = _read(spark, args.scope)
    else:
        keys = (
            _apply_query(index, args.query)
            .select(F.col(args.key_col).cast("string").alias("row_key"))
            .distinct()
        )
        keys.write.mode("overwrite").parquet(args.scope)
        keys = _read(spark, args.scope)  # read back: one stable snapshot
    n_scope = keys.count()

    # which RECORD-side column holds the index key's values: the index's
    # `id` and `occurrence_id` columns both alias to occurrenceID in this
    # engine (_RAW_ALIASES, operators/index_projection.py); a custom
    # --key-col is tried verbatim first so an index keyed on a raw column
    # the store carries matches on that column, not on occurrenceID
    _idx_to_record = {
        "id": (),
        "occurrence_id": (),
    }
    _key_candidates = _idx_to_record.get(args.key_col, (args.key_col,)) + (
        "occurrenceID", "uuid", "rowKey",
    )

    def record_key(df, what):
        for c in _key_candidates:
            if c in df.columns:
                return c
        raise SystemExit(
            f"index-query: no key column in {what} — tried "
            f"{', '.join(_key_candidates)}"
        )

    def scoped(df, what="store"):
        return df.join(
            keys.select(F.col("row_key").alias("__iq_key")),
            df[record_key(df, what)] == F.col("__iq_key"),
            "left_semi",
        )

    if not args.index_only:
        raw = scoped(_read(spark, args.raw), "--raw")
        reprocessed = run_pipeline(raw, _dims_from_args(spark, args))
        if getattr(args, "prev_processed", None):
            prev = _read(spark, args.prev_processed)
            kept = prev.join(
                keys.select(F.col("row_key").alias("__iq_key")),
                prev[record_key(prev, "--prev-processed")] == F.col("__iq_key"),
                "left_anti",
            )
            merged = kept.unionByName(reprocessed)
        else:
            merged = reprocessed
        partition = (
            ("dataResourceUid",) if "dataResourceUid" in merged.columns else ()
        )
        if partition:
            write_occurrence_store(merged, args.out, partition_by=partition)
        else:
            merged.write.mode("overwrite").parquet(args.out)
        processed_for_index = _read(spark, args.out)
    else:
        processed_for_index = _read(spark, args.prev_processed)

    assertions = _read(spark, args.assertions) if args.assertions else None
    outliers = (
        _read(spark, args.outliers) if getattr(args, "outliers", None) else None
    )
    # the rebuilt rows must carry the SAME schema as the standing index:
    # an index built with --outliers/--include-deleted needs the same
    # overlays here or the unionByName fails after the reprocess ran
    new_rows = build_index(
        scoped(processed_for_index, "the processed store"),
        include_deleted=args.include_deleted,
        user_assertions=assertions,
        outliers=outliers,
        key_col=args.key_col,
    )
    kept_index = index.join(
        keys.select(F.col("row_key").alias("__iq_key")),
        index[args.key_col] == F.col("__iq_key"),
        "left_anti",
    )
    kept_index.unionByName(new_rows).write.mode("overwrite").parquet(
        args.index_out
    )
    mode = "reindex-only" if args.index_only else "reprocess+reindex"
    print(
        f"index-query ({mode}) {n_scope} records "
        f"{'[saved scope]' if args.exist else args.query!r} -> {args.index_out}"
    )
    return 0


def cmd_ingest(args) -> int:
    """IngestTool (Store.ingest, Store.scala:625-638): load -> process ->
    sample -> index in one composed job graph."""
    from biocache_store_spark.operators.index_projection import build_index
    from biocache_store_spark.pipeline import run_pipeline
    from biocache_store_spark.sources.csv_loader import load_csv
    from biocache_store_spark.sources.dwca import load_archive

    spark = _spark(args)
    if args.archive:
        raw = load_archive(
            spark, args.archive, args.dr, unique_terms=_split(args.unique_terms) or None
        )
    elif args.csv:
        terms = _split(args.unique_terms)
        if not terms:
            # without unique terms every row would mint the SAME
            # rowKey/uuid (concat of just the resource uid) — refuse
            print(
                "ingest --csv requires --unique-terms (identity minting)",
                file=sys.stderr,
            )
            return 2
        raw = load_csv(spark, args.csv, args.dr, unique_terms=terms)
    else:
        print("ingest: one of --archive or --csv is required", file=sys.stderr)
        return 2
    processed = run_pipeline(raw, _dims_from_args(spark, args))
    build_index(processed).write.mode("overwrite").parquet(args.out)
    print(f"ingested {args.dr} -> {args.out}")
    return 0


# --------------------------------------------------------------- exports


def cmd_facet(args) -> int:
    """ExportFacet (tool/ExportFacet.scala): distinct values + counts of
    one field, optionally query-scoped."""
    from pyspark.sql import functions as F

    from biocache_store_spark.exports.exporters import export_facet

    spark = _spark(args)
    df = _apply_query(_read(spark, args.inp), args.query)
    if args.out:
        export_facet(df, args.field, args.out)
        print(f"facet {args.field} -> {args.out}")
    else:
        # match export_facet's null handling so stdout and --out report
        # the same totals (SOLR facets exclude the null bucket)
        rows = (
            df.filter(F.col(args.field).isNotNull())
            .groupBy(args.field)
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), args.field)
            .limit(args.limit)
            .collect()
        )
        for r in rows:
            print(f"{r[args.field]}\t{r['count']}")
    return 0


def cmd_export(args) -> int:
    """ExportFromIndex / ExportByFacetQuery (tool/ExportFromIndex.scala):
    query-scoped column export; --format csv (default) or jsonl (the
    corpus interchange format load-jsonl reads back)."""
    from biocache_store_spark.exports.exporters import export_csv, export_jsonl

    spark = _spark(args)
    df = _apply_query(_read(spark, args.inp), args.query)
    if args.format == "jsonl":
        export_jsonl(df, args.out, fields=_split(args.fields))
    else:
        export_csv(df, _split(args.fields), args.out)
    print(f"exported {args.fields} -> {args.out} ({args.format})")
    return 0


def cmd_export_dwca(args) -> int:
    """DwCACreator (export/DwCACreator.scala): store -> Darwin Core
    Archive zip (meta.xml + eml.xml + occurrence.csv; with --media also
    image.csv + the Multimedia extension, :407-494)."""
    from biocache_store_spark.exports.exporters import create_dwca

    spark = _spark(args)
    df = _apply_query(_read(spark, args.inp), args.query)
    media = _read(spark, args.media) if getattr(args, "media", None) else None
    create_dwca(
        df,
        _split(args.fields),
        args.out,
        multimedia=media,
        core_id_col=args.core_id if media is not None else None,
    )
    print(f"dwca -> {args.out}" + (" (+multimedia)" if media is not None else ""))
    return 0


# ----------------------------------------------------------- maintenance


def cmd_dedup_detect(args) -> int:
    """DuplicationDetection (tool/DuplicationDetection.scala): grouped
    duplicate detection -> (group keys, status R/D1/D2/U) store.

    Scoped/incremental modes (the reference's -g/-f/--inc options +
    IncrementalDuplicationDetection): --lsids / --lsid-file name the
    taxa to re-run; --since derives them from records modified since the
    last detection; --prev merges the re-run into a standing duplicate
    store (touched taxa replaced wholesale, untouched pass through)."""
    from biocache_store_spark.operators.dedup import (
        detect_duplicates,
        detect_duplicates_scoped,
        merge_dedup_results,
        reassigned_taxa,
        touched_record_ids,
        touched_taxa,
    )

    spark = _spark(args)
    df = _read(spark, args.inp)
    taxa = None
    from biocache_store_spark.util import arrow_rows_df

    if getattr(args, "lsids", None):
        taxa = arrow_rows_df(
            spark, "taxon string", [(x,) for x in _split(args.lsids)]
        )
    elif getattr(args, "lsid_file", None):
        with open(args.lsid_file) as fh:
            ids = [line.strip() for line in fh if line.strip()]
        taxa = arrow_rows_df(spark, "taxon string", [(x,) for x in ids])
    elif getattr(args, "since", None):
        taxa = touched_taxa(df, args.since, modified_col=args.modified_col)
        if getattr(args, "prev", None):
            # a changed record may have MOVED species: union the old taxa
            # still holding it in the standing store, so their clusters
            # are recomputed instead of keeping a stale row
            changed = touched_record_ids(
                df, args.since, modified_col=args.modified_col
            )
            taxa = taxa.unionByName(
                reassigned_taxa(_read(spark, args.prev), changed)
            ).distinct()
    if taxa is None:
        out = detect_duplicates(df)
    else:
        out = detect_duplicates_scoped(df, taxa)
        if getattr(args, "prev", None):
            if os.path.abspath(args.prev) == os.path.abspath(args.out):
                # the merge reads --prev lazily while --out overwrites it:
                # same path trips Spark's self-overwrite guard (or worse,
                # races the delete). The streaming twin versions v=<n>
                # directories for exactly this reason.
                print(
                    "dedup-detect: --out must differ from --prev (the "
                    "merge reads the previous store lazily while writing "
                    "the new one; write to a fresh directory and swap)",
                    file=sys.stderr,
                )
                return 2
            out = merge_dedup_results(_read(spark, args.prev), out, taxa)
    out.write.mode("overwrite").parquet(args.out)
    scope = "full" if taxa is None else "scoped"
    print(f"duplicates ({scope}) {args.inp} -> {args.out}")
    return 0


def cmd_jackknife(args) -> int:
    """ReverseJacknifeProcessor (outliers/JackKnife.scala): per-group
    jackknife outlier stats over a value column."""
    from biocache_store_spark.operators.jackknife import jackknife_stats

    spark = _spark(args)
    out = jackknife_stats(
        _read(spark, args.inp), _split(args.group_cols), args.value_col
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"jackknife {args.value_col} -> {args.out}")
    return 0


def cmd_outlier_detect(args) -> int:
    """Record-level jackknife outlier detection with a persisted store
    (outliers/ReverseJacknifeProcessor.scala storeResultsWithStats +
    dao/OutlierStatsDAO.scala): detect over layer value columns, or
    incrementally re-detect the groups touched since --since and merge
    into the standing store (--prev), touched groups replaced wholesale
    — including the OLD groups of records that moved (reassignment)."""
    from pyspark.sql import functions as F

    from biocache_store_spark.operators.dedup import touched_record_ids
    from biocache_store_spark.operators.outlier_store import (
        jackknife_record_outliers,
        merge_outlier_results,
    )

    if getattr(args, "revert_out", None) and not getattr(args, "since", None):
        print(
            "outlier-detect: --revert-out needs --since/--prev (the "
            "revert set is a diff against the previous store)",
            file=sys.stderr,
        )
        return 2
    # --in as well as --prev: the merged plan lazily scans the INPUT store
    # too while mode('overwrite') deletes --out, so an in-place invocation
    # hits the same self-overwrite/partial-delete hazard the mark-* tools
    # guard against (realpath, so symlinked aliases are caught)
    inputs = [args.inp] + ([args.prev] if getattr(args, "prev", None) else [])
    if _refuse_inplace_out("outlier-detect", inputs, args.out):
        return 2
    # --revert-out is an overwrite target too, and its plan lazily reads
    # --prev AND the just-written --out — same hazard class
    if getattr(args, "revert_out", None) and _refuse_inplace_out(
        "outlier-detect", inputs + [args.out], args.revert_out,
        flag="--revert-out",
    ):
        return 2
    spark = _spark(args)
    df = _read(spark, args.inp)
    group_cols = _split(args.group_cols)
    detect = lambda d: jackknife_record_outliers(  # noqa: E731
        d,
        group_cols,
        _split(args.layer_cols),
        args.id_col,
        cell_col=args.cell_col,
    )
    if getattr(args, "since", None):
        if not getattr(args, "prev", None):
            print(
                "outlier-detect: --since needs --prev (the standing store "
                "the incremental re-run merges into)",
                file=sys.stderr,
            )
            return 2
        prev = _read(spark, args.prev)
        from biocache_store_spark.operators.dedup import modified_since

        changed = modified_since(df, args.since, args.modified_col)
        # NULL-group rows are never tested (the detector drops them), so
        # they must never enter the scope either: the merge's null-safe
        # anti-join would drop previous NULL-group rows wholesale while
        # the null-UNSAFE semi-join re-detects nothing to replace them
        groups = changed.select(
            *[F.col(c).cast("string").alias(c) for c in group_cols]
        ).na.drop(subset=group_cols).distinct()
        # old groups of moved records, from the standing store — derived
        # from the already-filtered `changed` slice (since=None skips the
        # helper's own modified_since) so the timestamp-validation scan
        # over the full input runs once, not twice
        changed_ids = touched_record_ids(
            changed, None, modified_col=args.modified_col, id_col=args.id_col
        )
        old_groups = (
            prev.join(changed_ids, "row_key", "left_semi")
            .select(*group_cols)
            .na.drop(subset=group_cols)
            .distinct()
        )
        groups = groups.unionByName(old_groups).distinct().persist()
        if len(group_cols) == 1:
            from biocache_store_spark.operators.dedup import scope_to_groups

            scoped_df = scope_to_groups(df, groups, group_cols[0])
        else:  # isin is single-column; multi-col scopes semi-join
            scoped_df = df.join(groups, group_cols, "left_semi")
        inc = detect(scoped_df)
        out = merge_outlier_results(prev, inc, groups, group_cols)
        scope = "incremental"
    else:
        groups = None
        prev = None
        out = detect(df)
        scope = "full"
    try:
        out.write.mode("overwrite").parquet(args.out)
    finally:
        if groups is not None:
            groups.unpersist()
    if getattr(args, "revert_out", None):
        # the reference's reset list (storeResultsWithStats :382-412):
        # records that stopped being outliers, for assertion/column revert
        from biocache_store_spark.operators.outlier_store import (
            obsolete_outlier_records,
        )

        obsolete_outlier_records(
            prev, spark.read.parquet(args.out)
        ).write.mode("overwrite").parquet(args.revert_out)
        print(f"outlier reverts -> {args.revert_out}")
    print(f"outliers ({scope}) {args.inp} -> {args.out}")
    return 0


def _refuse_inplace_out(
    tool: str, inputs: list[str], out: str, flag: str = "--out"
) -> bool:
    """True (and an explanatory stderr line) when the `flag` target
    collides with any input path: the plan reads inputs lazily while
    mode('overwrite') deletes the target — at best Spark's
    self-overwrite guard trips, at worst a partially-deleted store.
    realpath, so symlinked aliases of the same directory are caught
    too."""
    if any(os.path.realpath(p) == os.path.realpath(out) for p in inputs):
        print(
            f"{tool}: {flag} must differ from every input and other "
            "output (the plan reads them lazily while the overwrite "
            "deletes the target; write to a fresh directory and swap)",
            file=sys.stderr,
        )
        return True
    return False


def cmd_mark_outliers(args) -> int:
    """Apply persisted outlier results to a processed store as system
    assertions (ReverseJacknifeProcessor storeResultsWithStats :370-410:
    DETECTED_OUTLIER 'Outlier for N layers' on outliers, flipped to
    PASSED for records in the revert list)."""
    from biocache_store_spark.operators.outlier_store import (
        apply_outlier_assertions,
    )

    inputs = [args.inp, args.outliers] + ([args.reverts] if args.reverts else [])
    if _refuse_inplace_out("mark-outliers", inputs, args.out):
        return 2
    spark = _spark(args)
    store = _read(spark, args.inp)
    outliers = _read(spark, args.outliers)
    reverts = _read(spark, args.reverts) if args.reverts else None
    out = apply_outlier_assertions(
        store, outliers, reverts, key_col=args.key_col
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"outlier assertions applied {args.inp} -> {args.out}")
    return 0


def cmd_expert_outlier_detect(args) -> int:
    """Expert-distribution outlier detection with a persisted record
    store (tool/ExpertDistributionOutlierTool.scala:106-575 + the
    distribution_outliers column family): test records against their
    taxon's expert range, or incrementally re-test the taxa touched since
    --since and merge into the standing store (--prev), touched taxa
    replaced wholesale — including the OLD taxa of records that moved."""
    from pyspark.sql import functions as F

    from biocache_store_spark.operators.dedup import touched_record_ids
    from biocache_store_spark.operators.outlier_distribution import (
        distribution_outliers_rollup,
        expert_outlier_records,
        obsolete_expert_outliers,
    )
    from biocache_store_spark.operators.outlier_store import (
        merge_outlier_results,
    )

    if getattr(args, "revert_out", None) and not getattr(args, "since", None):
        print(
            "expert-outlier-detect: --revert-out needs --since/--prev "
            "(the revert set is a diff against the previous store)",
            file=sys.stderr,
        )
        return 2
    inputs = [args.inp, args.distributions] + (
        [args.prev] if getattr(args, "prev", None) else []
    )
    if _refuse_inplace_out("expert-outlier-detect", inputs, args.out):
        return 2
    # the aux overwrite targets lazily read --prev and the just-written
    # --out — same self-overwrite hazard class as the main target; they
    # must also differ from EACH OTHER (the rollup write would silently
    # clobber the just-written revert set)
    seen_aux: list[str] = []
    for aux, flag in (("revert_out", "--revert-out"), ("rollup_out", "--rollup-out")):
        target = getattr(args, aux, None)
        if target:
            if _refuse_inplace_out(
                "expert-outlier-detect", inputs + [args.out] + seen_aux,
                target, flag=flag,
            ):
                return 2
            seen_aux.append(target)
    spark = _spark(args)
    df = _read(spark, args.inp)
    dists = _read(spark, args.distributions)
    detect = lambda d: expert_outlier_records(  # noqa: E731
        d,
        dists,
        distance_threshold_m=args.threshold,
        taxon_col=args.taxon_col,
        lat_col=args.lat_col,
        lon_col=args.lon_col,
        id_col=args.id_col,
        uncertainty_col=args.uncertainty_col,
    )
    if getattr(args, "since", None):
        if not getattr(args, "prev", None):
            print(
                "expert-outlier-detect: --since needs --prev (the standing "
                "store the incremental re-run merges into)",
                file=sys.stderr,
            )
            return 2
        prev = _read(spark, args.prev)
        from biocache_store_spark.operators.dedup import (
            modified_since,
            reassigned_taxa,
            scope_to_groups,
            touched_taxa,
        )

        # one filtered slice, reused by both scope derivations (the
        # helpers' own modified_since is skipped with since=None so the
        # timestamp-validation scan over the full input runs once);
        # NULL-taxon rows are never tested, so touched_taxa drops them
        changed = modified_since(df, args.since, args.modified_col)
        groups = touched_taxa(changed, None, taxon_col=args.taxon_col)
        changed_ids = touched_record_ids(changed, None, id_col=args.id_col)
        old_groups = reassigned_taxa(prev, changed_ids)
        groups = groups.unionByName(old_groups).distinct().persist()
        scoped = scope_to_groups(df, groups, args.taxon_col, group_col="taxon")
        inc = detect(scoped)
        out = merge_outlier_results(prev, inc, groups, ["taxon"])
        scope = "incremental"
    else:
        groups = None
        prev = None
        out = detect(df)
        scope = "full"
    try:
        out.write.mode("overwrite").parquet(args.out)
    finally:
        if groups is not None:
            groups.unpersist()
    current = spark.read.parquet(args.out)
    if getattr(args, "revert_out", None):
        obsolete_expert_outliers(prev, current).write.mode(
            "overwrite"
        ).parquet(args.revert_out)
        print(f"expert-outlier reverts -> {args.revert_out}")
    if getattr(args, "rollup_out", None):
        distribution_outliers_rollup(current).write.mode(
            "overwrite"
        ).parquet(args.rollup_out)
        print(f"distribution_outliers rollup -> {args.rollup_out}")
    print(f"expert outliers ({scope}) {args.inp} -> {args.out}")
    return 0


def cmd_mark_expert_outliers(args) -> int:
    """Apply the persisted expert-distribution results to a processed
    store (markOutlierOccurrences' per-record half: distance column +
    SPECIES_OUTSIDE_EXPERT_RANGE failed/passed assertions, reverts
    cleared + assertion removed)."""
    from biocache_store_spark.operators.outlier_distribution import (
        apply_expert_outlier_markup,
    )

    inputs = [args.inp, args.outliers] + ([args.reverts] if args.reverts else [])
    if _refuse_inplace_out("mark-expert-outliers", inputs, args.out):
        return 2
    spark = _spark(args)
    store = _read(spark, args.inp)
    outliers = _read(spark, args.outliers)
    reverts = _read(spark, args.reverts) if args.reverts else None
    out = apply_expert_outlier_markup(
        store, outliers, reverts, key_col=args.key_col
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"expert-outlier markup applied {args.inp} -> {args.out}")
    return 0


def cmd_mark_duplicates(args) -> int:
    """Apply duplicate-detection results to a processed store — the
    reference's per-record write-back (DuplicationDetection.scala
    :588-651) plus revertNonDuplicateRecords (:754-763): R/D status,
    associated occurrences, dup types, INFERRED_DUPLICATE_RECORD
    assertions; reverted records get the columns cleared and the
    assertion removed."""
    from biocache_store_spark.operators.dedup import apply_duplicate_markup

    inputs = [args.inp, args.dups] + ([args.reverts] if args.reverts else [])
    if _refuse_inplace_out("mark-duplicates", inputs, args.out):
        return 2
    spark = _spark(args)
    store = _read(spark, args.inp)
    dups = _read(spark, args.dups)
    reverts = _read(spark, args.reverts) if args.reverts else None
    out = apply_duplicate_markup(store, dups, reverts, key_col=args.key_col)
    out.write.mode("overwrite").parquet(args.out)
    print(f"duplicate markup applied {args.inp} -> {args.out}")
    return 0


def cmd_delete(args) -> int:
    """DeleteRecords / DeleteLocalDataResource (tool/DeleteRecords):
    delete by keys or by query, with the surviving store written out."""
    from biocache_store_spark.operators.maintenance import (
        delete_by_keys,
        delete_by_query,
    )

    spark = _spark(args)
    df = _read(spark, args.inp)
    if args.keys:
        from biocache_store_spark.util import arrow_rows_df

        keys_df = arrow_rows_df(
            spark, f"{args.key_col} string", [(k,) for k in _split(args.keys)]
        )
        kept, dellog = delete_by_keys(df, keys_df, key_col=args.key_col)
    elif args.query:
        kept, dellog = delete_by_query(df, args.query, key_col=args.key_col)
    else:
        print("delete: one of --keys or --query is required", file=sys.stderr)
        return 2
    kept.write.mode("overwrite").parquet(args.out)
    if args.dellog:
        dellog.write.mode("overwrite").parquet(args.dellog)
    print(f"deleted from {args.inp} -> {args.out}")
    return 0


def cmd_import(args) -> int:
    """import (tool/ImportUtil.scala, dev migration only): headerless
    delimited file + explicit column list -> parquet store, id column
    copied to rowKey; the reference's '|' quote and '$' escape defaults."""
    from biocache_store_spark.sources.csv_loader import import_table

    spark = _spark(args)
    out = import_table(
        spark,
        args.path,
        _split(args.columns),
        id_column_idx=args.id_idx,
        delimiter=args.separator,
        quote=args.quotechar,
        escape=args.escapechar,
        has_header=args.header,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"imported {args.path} -> {args.out}")
    return 0


def cmd_delete_column(args) -> int:
    """delete-column (tool/DeleteLocalColumn.scala): clear the listed
    columns on EVERY record — the whole-table variant of resource-cleanup
    columns (the reference's per-node token-range scan is one projection
    here)."""
    from biocache_store_spark.operators.maintenance import (
        _CLEANUP_PROTECTED,
        cleanup_columns,
    )

    spark = _spark(args)
    df = _read(spark, args.inp)
    requested = _split(args.cols)
    # surface what cleanup_columns will silently skip: protected
    # bookkeeping columns and names the table doesn't have — an exit-0
    # run that cleared nothing must never look like success
    skipped = [
        c for c in requested if c not in df.columns or c in _CLEANUP_PROTECTED
    ]
    effective = [c for c in requested if c not in skipped]
    for c in skipped:
        why = "protected" if c in _CLEANUP_PROTECTED else "not in table"
        print(f"delete-column: skipping {c!r} ({why})", file=sys.stderr)
    if not effective:
        print("delete-column: no clearable columns named", file=sys.stderr)
        return 2
    out, report = cleanup_columns(df, None, effective, keep=False)
    out.write.mode("overwrite").parquet(args.out)
    for row in report.collect():
        print(f"  {row['column']}: {row['records_cleared']} cleared")
    print(f"delete-column {','.join(effective)} -> {args.out}")
    return 0


def cmd_rename_columns(args) -> int:
    """rename-columns (tool/RenameColumns.scala): move values from old
    column names to new ones and drop the old columns — the layer-id
    migration shape, one projection instead of a paged per-cell sweep."""
    from biocache_store_spark.operators.maintenance import rename_columns

    pairs = _split(args.colmap)
    bad = [p for p in pairs if "=" not in p]
    if bad or not pairs:
        # a malformed pair silently dropped would skip half a migration
        print(
            f"rename-columns: --map needs old=new pairs (bad: {bad})",
            file=sys.stderr,
        )
        return 2
    mapping = dict(p.split("=", 1) for p in pairs)
    if len(mapping) != len(pairs):
        print(
            "rename-columns: duplicate old names in --map", file=sys.stderr
        )
        return 2
    spark = _spark(args)
    out = rename_columns(_read(spark, args.inp), mapping)
    out.write.mode("overwrite").parquet(args.out)
    print(f"rename-columns {len(mapping)} pairs -> {args.out}")
    return 0


def cmd_resource_cleanup(args) -> int:
    """resource-cleanup (tool/ResourceCleanupTask.scala): rows marks the
    resource's stale records deleted (and reinstates refreshed ones),
    columns nulls obsolete raw columns, delete moves flagged+stale
    records to the dellog. --test prints what would change and writes
    nothing, like the reference's --test flag."""
    from biocache_store_spark.operators.maintenance import (
        cleanup_columns,
        cleanup_rows,
        remove_deleted_records,
    )

    if not args.test and not args.out:
        print("resource-cleanup: --out is required unless --test", file=sys.stderr)
        return 2
    if args.type in ("rows", "delete") and not args.date:
        print("resource-cleanup: --date is required for rows/delete", file=sys.stderr)
        return 2
    spark = _spark(args)
    df = _read(spark, args.inp)
    if args.type == "rows":
        out, log = cleanup_rows(df, args.dr, args.date)
        label = "changes"
    elif args.type == "columns":
        if not args.cols:
            print("resource-cleanup columns: --cols is required", file=sys.stderr)
            return 2
        out, log = cleanup_columns(
            df, args.dr, _split(args.cols), keep=not args.delcols
        )
        label = "columns cleared"
    elif args.type == "delete":
        out, log = remove_deleted_records(df, args.dr, args.date)
        label = "removed"
    else:
        print(f"resource-cleanup: unknown type {args.type!r}", file=sys.stderr)
        return 2
    # the log is small (one row per change) — persist it so the count,
    # the preview and the optional log write don't each re-run the full
    # cleanup transform over a store that may be TBs
    log.persist()
    try:
        n = log.count()
        if args.test:
            print(f"[test] {label}: {n} (nothing written)")
            for row in log.limit(20).collect():
                print("  ", row.asDict())
            return 0
        out.write.mode("overwrite").parquet(args.out)
        if args.log:
            log.write.mode("overwrite").parquet(args.log)
    finally:
        log.unpersist()
    print(f"resource-cleanup {args.type} on {args.dr}: {label}: {n} -> {args.out}")
    return 0


def cmd_remap_unique_key(args) -> int:
    """remap-unique-id (util/RemapUniqueKey.scala): mint new unique ids
    from a changed field list and write the uniqueID -> rowKey mapping."""
    from biocache_store_spark.operators.maintenance import remap_unique_keys

    spark = _spark(args)
    df = _read(spark, args.inp)
    mapping = remap_unique_keys(df, _split(args.drs), _split(args.fields))
    mapping.write.mode("overwrite").parquet(args.out)
    # count the WRITTEN parquet (row-group metadata, no recompute) rather
    # than re-running the remap transform a second time
    n = spark.read.parquet(args.out).count()
    print(f"remapped {n} keys -> {args.out}")
    return 0


# ------------------------------------------------------------ inspection


def cmd_lsh_index(args) -> int:
    """Build or append the persisted near-dup LSH index from a documents
    store (operators/minhash.py write_lsh_index)."""
    spark = _spark(args)
    from biocache_store_spark.operators.minhash import write_lsh_index

    docs = _read(spark, args.inp)
    write_lsh_index(
        docs, args.index, mode="append" if args.append else "overwrite"
    )
    return 0


def cmd_near_dup_probe(args) -> int:
    """Probe a batch of documents against the persisted LSH index; emit
    (doc_a, doc_b, jaccard) pairs; optionally append the batch's
    signatures afterwards (incremental corpus-dedup maintenance)."""
    spark = _spark(args)
    from biocache_store_spark.operators.minhash import (
        probe_lsh_index,
        write_lsh_index,
    )

    batch = _read(spark, args.inp)
    pairs = probe_lsh_index(
        spark,
        args.index,
        batch,
        threshold=args.threshold,
        max_bucket_size=args.max_bucket,
    )
    pairs.write.mode("overwrite").parquet(args.out)
    if args.append_after:
        write_lsh_index(batch, args.index, mode="append")
    return 0


def cmd_semantic_dedup(args) -> int:
    """SemDeDup pruning decisions for an embeddings store
    (operators/similarity.py semantic_dedup); centroids default to the
    first --cells vectors when no centroid store is given."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.similarity import semantic_dedup

    emb = _read(spark, args.inp)
    if args.centroids:
        cents = _read(spark, args.centroids)
    else:
        cents = emb.orderBy(args.id_col).limit(args.cells).select(
            F.col(args.id_col).alias("cell_id"),
            F.col(args.embedding_col).alias("centroid"),
        )
    out = semantic_dedup(
        emb,
        cents,
        threshold=args.threshold,
        id_col=args.id_col,
        embedding_col=args.embedding_col,
    )
    out.write.mode("overwrite").parquet(args.out)
    return 0


def cmd_kmeans_train(args) -> int:
    """Train a fixed-point k-means codebook from an embeddings store and
    write it as a centroid store (cell_id, centroid) — the input
    `semantic-dedup --centroids` and the IVF/PQ indexes consume."""
    spark = _spark(args)
    from biocache_store_spark.operators.similarity import kmeans_train

    emb = _read(spark, args.inp)
    cells, book, _assigned = kmeans_train(
        emb,
        k=args.k,
        iters=args.iters,
        id_col=args.id_col,
        embedding_col=args.embedding_col,
    )
    from biocache_store_spark.operators.similarity import centroids_df

    centroids_df(
        spark, cells, book, id_type=emb.schema[args.id_col].dataType
    ).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"cells": len(cells), "dim": len(book[0])}))
    return 0


def cmd_curate(args) -> int:
    """Corpus curation pipeline (quality -> language -> near-dup removal);
    writes the per-source manifest and prints it. --in is a directory
    holding documents.parquet (the store layout the loaders write)."""
    spark = _spark(args)
    from biocache_store_spark.queries import load_all

    manifest = load_all()["corpus_curation"].spark_fn(spark, args.inp)
    if args.out:
        manifest.write.mode("overwrite").parquet(args.out)
    for row in manifest.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_stream_ingest(args) -> int:
    """Incremental ingest tick (streaming/incremental.py
    process_staging_stream): process whatever arrived in the staging
    directory since the checkpoint, then exit (Trigger.AvailableNow) —
    the cron-able form of the reference's 'process what arrived since
    last run' incremental loop."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import process_staging_stream

    q = process_staging_stream(
        spark, args.staging, args.out, args.checkpoint, available_now=True
    )
    q.awaitTermination()
    return 0


def cmd_stream_outliers(args) -> int:
    """Incremental jackknife-outlier tick (streaming/incremental.py
    occurrence_outlier_stream): append new JSONL occurrence drops to the
    store, re-detect their touched groups (plus moved records' old
    groups) over the updated store, merge into the versioned standing
    outlier store, exit when drained."""
    spark = _spark(args)
    from pyspark.sql import types as T

    from biocache_store_spark.streaming.incremental import (
        occurrence_outlier_stream,
    )

    layers = _split(args.layer_cols)
    schema = T.StructType(
        [T.StructField(args.group_col, T.StringType()),
         T.StructField(args.id_col, T.StringType())]
        + ([T.StructField(args.cell_col, T.StringType())]
           if args.cell_col else [])
        + [T.StructField(c, T.DoubleType()) for c in layers]
    )
    q = occurrence_outlier_stream(
        spark,
        args.staging,
        args.store,
        args.outliers,
        args.checkpoint,
        schema=schema,
        layer_cols=layers,
        group_col=args.group_col,
        id_col=args.id_col,
        cell_col=args.cell_col,
        available_now=True,
    )
    q.awaitTermination()
    return 0


def cmd_stream_expert_outliers(args) -> int:
    """Incremental expert-distribution outlier tick
    (streaming/incremental.py expert_outlier_stream): append new JSONL
    occurrence drops to the store, re-test their touched taxa (plus
    moved records' old taxa) against the expert-range dim over the
    updated store, merge into the versioned standing store, exit when
    drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import (
        expert_outlier_stream,
    )

    q = expert_outlier_stream(
        spark,
        args.staging,
        args.store,
        args.outliers,
        args.checkpoint,
        distributions=spark.read.parquet(args.distributions),
        distance_threshold_m=args.threshold,
        available_now=True,
    )
    q.awaitTermination()
    return 0


def cmd_stream_near_dup(args) -> int:
    """Incremental near-dup tick (streaming/incremental.py
    near_dup_stream): probe new JSONL drops against the persisted LSH
    index, append pairs and signatures, exit when drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import near_dup_stream

    q = near_dup_stream(
        spark,
        args.staging,
        args.index,
        args.pairs,
        args.checkpoint,
        threshold=args.threshold,
        available_now=True,
    )
    q.awaitTermination()
    return 0


def cmd_stream_semantic_dedup(args) -> int:
    """Incremental semantic-dedup tick (streaming/incremental.py
    semantic_dedup_stream): score new JSONL embedding drops against the
    persisted IVF index, write per-drop keep/prune decisions, append
    the drops' vectors so future arrivals dedup against them, exit when
    drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import (
        semantic_dedup_stream,
    )

    try:
        q = semantic_dedup_stream(
            spark,
            args.staging,
            args.index,
            args.decisions,
            args.checkpoint,
            threshold=args.threshold,
            nprobe=args.nprobe,
            available_now=True,
        )
    except ValueError as e:
        # unseeded index: argument error, exit 2
        print(f"stream-semantic-dedup: {e}", file=sys.stderr)
        return 2
    q.awaitTermination()
    return 0


def cmd_stream_ivfpq(args) -> int:
    """Incremental IVFADC maintenance tick (streaming/incremental.py
    ivfpq_index_stream): search new JSONL embedding drops against the
    persisted IVFADC index (one batch job; --rerank for exact re-rank),
    write per-drop neighbor reports, append the drops' residual-PQ
    codes (and raw vectors when the index stores them), exit when
    drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import ivfpq_index_stream

    try:
        q = ivfpq_index_stream(
            spark,
            args.staging,
            args.index,
            args.neighbors,
            args.checkpoint,
            k=args.k,
            nprobe=args.nprobe,
            rerank_shortlist=args.rerank,
            available_now=True,
        )
    except ValueError as e:
        # unseeded or pre-meta index: argument error, exit 2
        print(f"stream-ivfpq: {e}", file=sys.stderr)
        return 2
    q.awaitTermination()
    return 0


def cmd_stream_dedup_occ(args) -> int:
    """Incremental duplication-detection tick (streaming/incremental.py
    occurrence_dedup_stream): append new JSONL occurrence drops to the
    store, re-detect their touched taxa over the updated store, merge
    into the versioned standing duplicate store, exit when drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import (
        occurrence_dedup_stream,
    )

    q = occurrence_dedup_stream(
        spark,
        args.staging,
        args.store,
        args.dups,
        args.checkpoint,
        available_now=True,
    )
    q.awaitTermination()
    return 0


def cmd_stream_classify(args) -> int:
    """Incremental model-gate tick (streaming/incremental.py
    classify_stream): score new JSONL document drops against the
    persisted NB model, accumulate per-batch predictions, exit when
    drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import classify_stream

    q = classify_stream(
        spark,
        args.staging,
        args.model,
        args.predictions,
        args.checkpoint,
        keep_label=args.keep_label,
        available_now=True,
    )
    q.awaitTermination()
    return 0


def cmd_dsir_stats(args) -> int:
    """Seed the persisted DSIR scoring state (operators/curation.py
    write_dsir_stats): target + initial raw corpus -> cp/cq histograms
    the dsir probe stream folds into."""
    spark = _spark(args)
    from biocache_store_spark.operators.curation import write_dsir_stats

    write_dsir_stats(
        _read(spark, args.target),
        _read(spark, args.inp),
        args.out,
        n_hex=args.n_hex,
    )
    print(f"dsir stats -> {args.out}")
    return 0


def cmd_stream_dsir(args) -> int:
    """Incremental DSIR tick (streaming/incremental.py dsir_stream):
    fold new JSONL document drops into the persisted cq histogram, score
    them, accumulate per-batch weights, exit when drained."""
    spark = _spark(args)
    from biocache_store_spark.streaming.incremental import dsir_stream

    q = dsir_stream(
        spark,
        args.staging,
        args.stats,
        args.weights,
        args.checkpoint,
        threshold=args.threshold,
        available_now=True,
    )
    q.awaitTermination()
    return 0


def cmd_build_corpus(args) -> int:
    """The nightly training-corpus build (pipeline.py build_corpus):
    quality gate -> language gate -> exact dedup -> near-dup cluster
    representative keep -> optional mixture sampling; writes documents/
    + manifest/ under --out and prints the per-stage manifest."""
    spark = _spark(args)
    from biocache_store_spark.pipeline import build_corpus

    docs = _read(spark, args.inp)
    weights = None
    if bool(args.mixture) != (args.token_budget is not None):
        print(
            "build-corpus: --mixture and --token-budget must be given "
            "together (one alone would silently skip the mixture stage)",
            file=sys.stderr,
        )
        return 2
    if args.mixture:
        weights = {
            kv.split("=")[0]: float(kv.split("=")[1])
            for kv in _split(args.mixture)
        }
    for v, flag in (
        (args.substring_dedup, "--substring-dedup"),
        (args.decontaminate_min_len, "--decontaminate-min-len"),
    ):
        if v is not None and v < 8:
            print(
                f"build-corpus: {flag} must be >= 8 (the anchor k-gram "
                "length — shorter spans cannot be anchored)",
                file=sys.stderr,
            )
            return 2
    if args.anchor_hex_zeros < 0:
        print(
            "build-corpus: --anchor-hex-zeros must be >= 0 (0 = exact mode)",
            file=sys.stderr,
        )
        return 2
    for a, b, what in (
        (args.nb_model, args.nb_keep_label, "--nb-model and --nb-keep-label"),
        (args.dsir_target, args.dsir_threshold, "--dsir-target and --dsir-threshold"),
        (args.decontaminate_eval, args.decontaminate_min_len,
         "--decontaminate-eval and --decontaminate-min-len"),
    ):
        if (a is None) != (b is None):
            print(
                f"build-corpus: {what} must be given together "
                "(one alone would silently skip the gate)",
                file=sys.stderr,
            )
            return 2
    manifest = build_corpus(
        spark,
        docs,
        args.out,
        quality_threshold=args.quality_threshold,
        near_dup_threshold=args.near_dup_threshold,
        max_bucket_size=args.max_bucket,
        mixture_weights=weights,
        token_budget=args.token_budget,
        nb_model_path=args.nb_model,
        nb_keep_label=args.nb_keep_label,
        dsir_target=(
            _read(spark, args.dsir_target) if args.dsir_target else None
        ),
        dsir_threshold=args.dsir_threshold,
        substring_dedup_min_len=args.substring_dedup,
        decontaminate_eval=(
            _read(spark, args.decontaminate_eval)
            if args.decontaminate_eval else None
        ),
        decontaminate_min_len=args.decontaminate_min_len,
        substring_anchor_hex_zeros=args.anchor_hex_zeros,
    )
    for row in manifest.orderBy("stage", "source").collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_train_bpe(args) -> int:
    """In-engine BPE merge training (operators/bpe.py): corpus ->
    merge-rule table the export/encode tools consume."""
    spark = _spark(args)
    from biocache_store_spark.operators.bpe import train_bpe_merges

    docs = _read(spark, args.inp)
    merges = train_bpe_merges(
        docs, args.n_merges, max_words=args.max_words
    )
    merges.coalesce(1).write.mode("overwrite").parquet(args.out)
    n = merges.count()
    print(f"learned {n} merges -> {args.out}")
    return 0


def cmd_train_classifier(args) -> int:
    """In-engine Naive Bayes training (operators/classifier.py
    train_nb): labeled documents -> persisted model the classify tool
    consumes."""
    spark = _spark(args)
    from biocache_store_spark.operators.classifier import (
        train_nb,
        write_nb_model,
    )

    docs = _read(spark, args.inp)
    model, labels = train_nb(
        docs, label_col=args.label_col, n_hex=args.n_hex
    )
    write_nb_model(
        model, labels, args.out, n_hex=args.n_hex, label_col=args.label_col
    )
    for row in labels.orderBy("label").collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_classify(args) -> int:
    """Score documents against a persisted Naive Bayes model
    (operators/classifier.py nb_classify) — the model-based
    quality/language/domain gate of the curation pipeline."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.classifier import (
        nb_classify,
        read_nb_model,
    )

    model, labels, n_hex = read_nb_model(spark, args.model)
    out = nb_classify(_read(spark, args.inp), model, labels, n_hex=n_hex)
    if args.keep_label:
        out = out.filter(F.col("label") == args.keep_label)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"classified -> {args.out}")
    else:
        for row in out.orderBy("doc_id").limit(args.limit).collect():
            print(json.dumps(row.asDict()))
    return 0


def cmd_dsir_select(args) -> int:
    """DSIR importance-weighted selection (operators/curation.py
    dsir_importance/dsir_select): score a raw corpus against a trusted
    target corpus, keep by threshold (the 100 TB path) or exact
    top-fraction."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.curation import (
        dsir_importance,
        dsir_select,
    )

    weights = dsir_importance(
        _read(spark, args.inp), _read(spark, args.target), n_hex=args.n_hex
    )
    # persist: the two-corpus-scan importance job feeds the write and
    # both summary counts — unpersisted it would run up to three times
    sel = dsir_select(
        weights, top_fraction=args.top_fraction, threshold=args.threshold
    ).persist()
    try:
        kept = sel.filter(F.col("selected"))
        if args.out:
            kept.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {"selected": kept.count(), "scored": sel.count(), "out": args.out}
            )
        )
    finally:
        sel.unpersist()
    return 0


def cmd_export_shards(args) -> int:
    """Training-shard export (pipeline.py export_training_shards):
    deterministic shuffle + shard + packing cursor, optionally
    BPE-encoding with a learned merges table first."""
    spark = _spark(args)
    from biocache_store_spark.pipeline import export_training_shards

    docs = _read(spark, args.inp)
    merges = spark.read.parquet(args.merges) if args.merges else None
    summary = export_training_shards(
        spark, docs, args.out, n_shards=args.n_shards, merges=merges
    )
    for row in summary.orderBy("shard").collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_ivf_index(args) -> int:
    """Build or append the persisted IVF index from an embeddings store
    (operators/similarity.py write_ivf_index); centroids come from a
    kmeans-train output store."""
    spark = _spark(args)
    from biocache_store_spark.operators.similarity import write_ivf_index

    write_ivf_index(
        _read(spark, args.inp),
        _read(spark, args.centroids),
        args.index,
        mode="append" if args.append else "overwrite",
    )
    return 0


def cmd_ivfpq_index(args) -> int:
    """Build or append the persisted IVFADC index
    (operators/similarity.py write_ivfpq_index): residual-PQ codes
    partitioned by cell — ~64x smaller than the embeddings. The
    codebook is either a stored (j, embedding) parquet (--codebook) or
    trained in-engine on the residuals (--train-codebook K: assign,
    subtract the cell centroid JVM-side, then one deterministic kmeans
    per subspace via train_pq_codebook)."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.similarity import (
        ivf_assign_bulk,
        train_pq_codebook,
        write_ivfpq_index,
    )

    vectors = _read(spark, args.inp)
    if args.append:
        # an append MUST encode with the dims already in the index —
        # codes written against a retrained codebook would silently
        # decode wrong under the stored one (write_ivfpq_index's own
        # contract). The index supplies both dims.
        if args.codebook or args.train_codebook or args.centroids:
            print("ivfpq-index: --append encodes with the index's own "
                  "stored centroids + codebook; drop --centroids / "
                  "--codebook / --train-codebook", file=sys.stderr)
            return 2
        centroids = _read(spark, args.index + "/centroids")
        codebook = _read(spark, args.index + "/codebook")
        try:
            # store_vectors follows the index's meta (None); an explicit
            # --store-vectors on an index built without one raises cleanly
            write_ivfpq_index(
                vectors, centroids, codebook, args.index,
                n_subspaces=args.subspaces, mode="append",
                store_vectors=True if args.store_vectors else None,
            )
        except ValueError as e:
            # dims drift (wrong --subspaces / codebook dim vs the stored
            # meta) is an argument error, not a traceback (ADVICE r11 #4)
            print(f"ivfpq-index: {e}", file=sys.stderr)
            return 2
        return 0
    if not args.centroids:
        print("ivfpq-index: --centroids required (except with --append)",
              file=sys.stderr)
        return 2
    if bool(args.codebook) == bool(args.train_codebook):
        print("ivfpq-index: supply exactly one of --codebook / "
              "--train-codebook K", file=sys.stderr)
        return 2
    centroids = _read(spark, args.centroids)
    try:
        if args.codebook:
            codebook = _read(spark, args.codebook)
        else:
            assigned = ivf_assign_bulk(vectors, centroids)
            residuals = assigned.join(
                F.broadcast(centroids.select("cell_id", "centroid")), "cell_id"
            ).select(
                "vec_id",
                F.zip_with(
                    F.col("embedding"), F.col("centroid"), lambda a, b: a - b
                ).alias("embedding"),
            ).persist()  # train_pq_codebook runs ~2 actions total (seeds +
            # per-iter stats) — uncached, each would replay the full
            # assignment lineage
            try:
                book = train_pq_codebook(
                    residuals, n_subspaces=args.subspaces,
                    k=args.train_codebook,
                )
            finally:
                residuals.unpersist()
            from biocache_store_spark.util import arrow_rows_df

            codebook = arrow_rows_df(
                spark,
                "j long, embedding array<double>",
                [(j, book[j]) for j in range(len(book))],
            )
        write_ivfpq_index(
            vectors, centroids, codebook, args.index,
            n_subspaces=args.subspaces, mode="overwrite",
            store_vectors=args.store_vectors,
        )
    except ValueError as e:
        # dim-not-divisible / empty-embedding problems from the trainer or
        # writer follow the CLI's message-plus-exit-2 convention
        print(f"ivfpq-index: {e}", file=sys.stderr)
        return 2
    return 0


def cmd_ivfpq_query(args) -> int:
    """ADC top-k against the persisted IVFADC index
    (query_ivfpq_index_batch: one probe-pruned batch job for every
    requested id, self-matches excluded); query vectors come from an
    embeddings store by --query-ids."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.similarity import (
        query_ivfpq_index_batch,
    )

    ids = [int(v) for v in _split(args.query_ids)]
    if not ids:
        return 0  # empty batch, empty answer (ann-query's behavior)
    emb = _read(spark, args.queries)
    # ONE isin scan fetches every query vector; ONE batch job answers
    # them all (0.14 s/query at 1M vs 5.4 s/query per-query plans,
    # SCALE.md). Self-matches are excluded, like ann-query.
    queries = emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    found = {r["query_id"] for r in queries.select("query_id").collect()}
    missing = sorted(set(ids) - found)
    if missing:
        print(f"ivfpq-query: query ids {missing} not in {args.queries}",
              file=sys.stderr)
        return 2
    try:
        result = query_ivfpq_index_batch(
            spark, args.index, queries, k=args.k, nprobe=args.nprobe,
            n_subspaces=args.subspaces, rerank_shortlist=args.rerank,
        )
    except ValueError as e:
        # wrong --subspaces vs the stored meta, or --rerank against an
        # index built without store_vectors: argument errors, exit 2
        print(f"ivfpq-query: {e}", file=sys.stderr)
        return 2
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
    for row in result.orderBy("query_id", "rank").collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_ivfpq_delete(args) -> int:
    """Tombstone ids out of the persisted IVFADC index
    (delete_from_ivfpq_index): deleted vectors stop matching every
    query immediately; run ivfpq-vacuum to reclaim the space."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    from biocache_store_spark.operators.similarity import (
        delete_from_ivfpq_index,
    )

    ids = sorted({int(v) for v in _split(args.ids)})
    if not ids:
        print("ivfpq-delete: no ids supplied", file=sys.stderr)
        return 2
    missing: list[int] = []
    if args.check_present:
        # opt-in: catching a typo'd id costs a scan of the codes store
        # (vec_id is not the partition column, so nothing prunes) —
        # wrong as a default at a 1.5 TB codes store, useful on demand
        codes = _read(spark, args.index + "/codes")
        present = {
            r["vec_id"]
            for r in codes.filter(F.col("vec_id").isin(ids))
            .select("vec_id").distinct().collect()
        }
        missing = sorted(set(ids) - present)
        if missing:
            print(f"ivfpq-delete: ids {missing} not in the index "
                  "(tombstoned anyway)", file=sys.stderr)
    from biocache_store_spark.util import arrow_rows_df

    delete_from_ivfpq_index(
        spark,
        args.index,
        arrow_rows_df(spark, "vec_id long", [(i,) for i in ids]),
    )
    print(json.dumps({"tombstoned": len(ids), "not_present": len(missing)}))
    return 0


def cmd_ivfpq_vacuum(args) -> int:
    """Physically remove tombstoned ids from the IVFADC index
    (vacuum_ivfpq_index): rewrite codes/ (and vectors/) without them,
    clear deleted/."""
    spark = _spark(args)
    from biocache_store_spark.operators.similarity import vacuum_ivfpq_index

    print(json.dumps(vacuum_ivfpq_index(spark, args.index)))
    return 0


def cmd_ann_query(args) -> int:
    """Top-k similarity search against the persisted IVF index
    (query_ivf_index, probe-pruned scan); query vectors come from a
    store filtered by --query-ids."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.similarity import query_ivf_index

    ids = [int(v) for v in _split(args.query_ids)]
    queries = (
        _read(spark, args.queries)
        .filter(F.col("vec_id").isin(ids))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = query_ivf_index(
        spark, args.index, queries, k=args.k, nprobe=args.nprobe
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    for row in out.orderBy("query_id", "rank").collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_snapshot_diff(args) -> int:
    """Corpus-build regression gate (operators/maintenance.py
    snapshot_diff): classify every id across two snapshots as added /
    removed / changed / unchanged and print the status rollup."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    from biocache_store_spark.operators.maintenance import snapshot_diff

    diff = snapshot_diff(
        _read(spark, args.old), _read(spark, args.new),
        id_col=args.id_col, content_col=args.content_col,
    )
    if args.out:
        diff.write.mode("overwrite").parquet(args.out)
    for row in diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    ).orderBy("status").collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_compact(args) -> int:
    """Rewrite a parquet store with bounded file sizes — the maintenance
    answer to streaming-append small files (every availableNow microbatch
    appends its own files; after enough ticks the store is thousands of
    tiny parquet files and scan task-setup dominates). Preserves the
    partition columns when given; output is a fresh snapshot."""
    spark = _spark(args)
    df = _read(spark, args.inp)
    parts = _split(args.partition_by)
    # with partition columns, repartition BY them: round-robin would give
    # every task rows of ~every partition value, and partitionBy would
    # then write target_files x n_values small files — re-fragmenting the
    # store this tool exists to fix
    if parts:
        from pyspark.sql import functions as F

        df = df.repartition(args.target_files, *[F.col(c) for c in parts])
    else:
        df = df.repartition(args.target_files)
    writer = df.write.mode("overwrite").option(
        "maxRecordsPerFile", args.max_records
    )
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(args.out)
    return 0


def cmd_load_dim(args) -> int:
    """Dimension refresh (ConservationListLoader / HabitatLoader /
    UpdateAttribution / taxon profiles): ingest a CSV/JSON dump into the
    dim-table schema the chain consumes (sources/dim_loader.py)."""
    spark = _spark(args)
    from biocache_store_spark.sources import dim_loader

    loaders = {
        "taxon-profiles": dim_loader.load_taxon_profiles,
        "conservation": dim_loader.load_conservation_list,
        "habitat": dim_loader.load_habitat_dim,
        "attribution": dim_loader.load_attribution_dim,
    }
    out = loaders[args.kind](spark, args.inp, fmt=args.format)
    out.write.mode("overwrite").parquet(args.out)
    return 0


def cmd_media_references(args) -> int:
    """load-media-references / the reference rebuild: regenerate the
    per-record media-reference table from a media store
    (operators/multimodal.py media_references — LoadMediaReferences.scala),
    optionally overlaying it onto a records table."""
    spark = _spark(args)
    from biocache_store_spark.operators.multimodal import (
        load_media_references,
        media_references,
    )

    refs = media_references(_read(spark, args.store))
    if args.records:
        out = load_media_references(_read(spark, args.records), refs)
    else:
        out = refs
    out.write.mode("overwrite").parquet(args.out)
    return 0


def cmd_migrate_media(args) -> int:
    """migrate-media: fetch every associatedMedia file not already in the
    media store and write the new store rows (MigrateMedia.scala sweep;
    --dry-run counts instead of writing, like the reference's dryRun)."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    from biocache_store_spark.operators.multimodal import (
        migrate_media,
        migrate_media_candidates,
    )

    if not args.dry_run and not args.out:
        print("migrate-media: --out is required unless --dry-run", file=sys.stderr)
        return 2
    stored = _read(spark, args.store) if args.store else None
    records = _read(spark, args.inp)
    if args.dry_run:
        # the reference's dryRun counts candidates WITHOUT fetching —
        # counting over migrate_media output would execute the entire
        # backlog's downloads just to preview it
        n = migrate_media_candidates(records, stored).count()
        print(json.dumps({"to_migrate": n}))
        return 0
    new_rows = migrate_media(records, stored)
    # one fetch pass feeds both the append and the counts
    new_rows.persist()
    try:
        counts = new_rows.agg(
            F.count(F.lit(1)).alias("to_migrate"),
            F.sum(F.col("fetch_ok").cast("int")).alias("fetched"),
        ).collect()[0]
        # append ONLY successful fetches: a failed (record, url) row in
        # the store would satisfy the candidate anti-join and block every
        # future retry of that URL
        new_rows.filter(F.col("fetch_ok")).write.mode("append").parquet(args.out)
    finally:
        new_rows.unpersist()
    failed = counts["to_migrate"] - (counts["fetched"] or 0)
    print(
        json.dumps(
            {
                "to_migrate": counts["to_migrate"],
                "fetched": counts["fetched"],
                "failed": failed,
            },
            default=str,
        )
    )
    return 0


def cmd_debug_record(args) -> int:
    """debug-record (util/DebugRecord.scala): dump one record's raw
    values, processed values and assertions as JSON, looked up by rowKey
    with a uuid fallback (the reference's secondary-index lookup)."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    df = _read(spark, args.inp)
    hit = df.filter(F.col("rowKey") == args.key) if "rowKey" in df.columns else None
    rows = hit.limit(2).collect() if hit is not None else []
    if not rows and "uuid" in df.columns:
        rows = df.filter(F.col("uuid") == args.key).limit(2).collect()
    if not rows:
        print(json.dumps({"found": False, "key": args.key}))
        return 1
    rec = rows[0].asDict(recursive=True)
    out = {"found": True, "key": args.key}
    out["processed"] = rec.pop("processed", None)
    out["assertions"] = rec.pop("assertions", None)
    out["raw"] = rec
    print(json.dumps(out, indent=2, default=str))
    return 0


def cmd_scan_records(args) -> int:
    """scan-records (tool/ScanRecords.scala): one pass over a store
    counting total rows, deleted rows, and per-aggregate-field counts —
    a single groupBy job instead of the reference's threaded token-range
    walk; --csv writes the per-field counts like the reference's
    csvOutputFile."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    from biocache_store_spark.operators.maintenance import is_deleted_flag

    df = _read(spark, args.inp)
    # the store's shared flag convention: ''/'false' rows are LIVE
    deleted = (
        F.sum(is_deleted_flag(F.col("deleted")).cast("long"))
        if "deleted" in df.columns
        else F.lit(0)
    )
    totals = df.agg(
        F.count(F.lit(1)).alias("scanned"), deleted.alias("deleted")
    ).collect()[0]
    out = {"scanned": totals["scanned"], "deleted": totals["deleted"]}
    if args.aggregate:
        counts = (
            df.groupBy(args.aggregate)
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), args.aggregate)
            .collect()
        )
        # NULL group values get their own field, never the string "None"
        # (which would collide with a real 'None' value in the data)
        out["aggregate"] = {
            str(r[args.aggregate]): r["n"]
            for r in counts
            if r[args.aggregate] is not None
        }
        null_n = sum(r["n"] for r in counts if r[args.aggregate] is None)
        if null_n:
            out["aggregate_null"] = null_n
        if args.csv:
            with open(args.csv, "w") as fh:
                for r in counts:
                    key = "" if r[args.aggregate] is None else r[args.aggregate]
                    fh.write(f"{key},{r['n']}\n")
    print(json.dumps(out, default=str))
    return 0


def cmd_describe(args) -> int:
    """DescribeResource / ListResources: schema + per-resource counts."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    df = _read(spark, args.inp)
    info = {"columns": df.columns, "rows": df.count()}
    if "dataResourceUid" in df.columns:
        info["resources"] = {
            r["dataResourceUid"]: r["n"]
            for r in df.groupBy("dataResourceUid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    print(json.dumps(info, indent=2, default=str))
    return 0


def cmd_healthcheck(args) -> int:
    """Healthcheck: session comes up, store (if given) is readable."""
    spark = _spark(args)
    checks = {"spark": spark.version}
    if args.inp:
        checks["store_rows"] = _read(spark, args.inp).count()
    print(json.dumps(checks))
    return 0


def cmd_version(args) -> int:
    print(__version__)
    return 0


# -------------------------------------------------------------- argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="biocache_store_spark",
        description="Spark-native biocache tools (reference: cmd/CMD2.scala registry)",
    )
    sub = p.add_subparsers(dest="tool", required=True)

    def tool(name, fn, help):
        sp = sub.add_parser(name, help=help)
        sp.set_defaults(fn=fn)
        return sp

    def dim_opts(sp):
        sp.add_argument("--taxa", help="taxa dim parquet")
        sp.add_argument("--attribution", help="data-resource dim parquet")
        sp.add_argument("--sds", help="sensitive-species dim parquet")
        sp.add_argument("--cl-layers", dest="cl_layers", help="cl layer dim parquet")
        sp.add_argument("--el-layers", dest="el_layers", help="el layer dim parquet")
        sp.add_argument(
            "--state-layer", dest="state_layer",
            help="cl layerID whose names are states (layer.state.province)",
        )

    sp = tool("load-dwca", cmd_load_dwca, "DwC-A dir -> occurrence store")
    sp.add_argument("--archive", required=True)
    sp.add_argument("--dr", required=True, help="data resource uid")
    sp.add_argument("--unique-terms", dest="unique_terms")
    sp.add_argument("--out", required=True)

    sp = tool("load-csv", cmd_load_csv, "DwC CSV -> occurrence store")
    sp.add_argument("--path", required=True)
    sp.add_argument("--dr", required=True)
    sp.add_argument("--unique-terms", dest="unique_terms", required=True)
    sp.add_argument("--delimiter", default=",")
    sp.add_argument("--out", required=True)

    sp = tool("load-jsonl", cmd_load_jsonl, "JSONL corpus -> documents store")
    sp.add_argument("--path", required=True)
    sp.add_argument("--source", required=True)
    sp.add_argument("--out", required=True)

    sp = tool("process", cmd_process, "raw store -> processed store")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--query", help="SOLR-syntax scope filter")
    sp.add_argument(
        "--uuids", help="comma-separated uuid/rowKey scope (ProcessUuids)"
    )
    dim_opts(sp)

    sp = tool("sample", cmd_sample, "store -> cl/el samples per distinct point")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    dim_opts(sp)

    sp = tool("index", cmd_index, "processed store -> index table")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--assertions", help="user-assertion store parquet")
    sp.add_argument(
        "--outliers",
        help="persisted outlier store parquet (outlier-detect output) -> "
        "outlier_layer / outlier_layer_count index fields",
    )
    sp.add_argument(
        "--key-col", dest="key_col", default="id",
        help="index column the assertion/outlier overlays join on; the "
        "overlay store's row_key values must be THIS column's values "
        "(the default 'id' is the minted record uuid — an outlier store "
        "keyed by occurrenceID needs --key-col occurrence_id, or run "
        "outlier-detect with --id-col uuid)",
    )
    sp.add_argument("--include-deleted", action="store_true")

    sp = tool(
        "index-query", cmd_index_query,
        "query the index -> reprocess matching records -> reindex them "
        "(ReprocessIndexSelect)",
    )
    sp.add_argument("--index", required=True, help="standing index table")
    sp.add_argument(
        "-q", "--query", help="SOLR-syntax index query, e.g. 'year:2001'"
    )
    sp.add_argument(
        "--scope", required=True,
        help="row-key scope file (written unless --exist reuses it — "
        "the reference's reprocess_index_rowkeys.out)",
    )
    sp.add_argument(
        "--exist", action="store_true",
        help="reuse the saved --scope list instead of re-running --query",
    )
    sp.add_argument("--raw", help="raw store (needed unless --index-only)")
    sp.add_argument(
        "--prev-processed", dest="prev_processed",
        help="standing processed store; scoped rows are replaced, the "
        "rest pass through (required with --index-only)",
    )
    sp.add_argument("--out", help="merged processed store output")
    sp.add_argument("--index-out", dest="index_out", required=True)
    sp.add_argument(
        "--index-only", dest="index_only", action="store_true",
        help="reindex only — do not reprocess",
    )
    sp.add_argument("--assertions", help="user-assertion store parquet")
    sp.add_argument(
        "--outliers",
        help="persisted outlier store parquet (as for `index --outliers`; "
        "required when the standing index was built with it, or the "
        "rebuilt rows' schema cannot union)",
    )
    sp.add_argument("--include-deleted", dest="include_deleted",
                    action="store_true")
    sp.add_argument("--key-col", dest="key_col", default="id")
    dim_opts(sp)

    sp = tool("ingest", cmd_ingest, "load -> process -> index")
    sp.add_argument("--archive")
    sp.add_argument("--csv")
    sp.add_argument("--dr", required=True)
    sp.add_argument("--unique-terms", dest="unique_terms")
    sp.add_argument("--out", required=True)
    dim_opts(sp)

    sp = tool("facet", cmd_facet, "field facet counts (print or CSV)")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--field", required=True)
    sp.add_argument("--query")
    sp.add_argument("--limit", type=int, default=20)
    sp.add_argument("--out")

    sp = tool("export", cmd_export, "query-scoped column export (csv/jsonl)")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--fields", required=True)
    sp.add_argument("--query")
    sp.add_argument("--format", choices=("csv", "jsonl"), default="csv")
    sp.add_argument("--out", required=True)

    sp = tool("export-dwca", cmd_export_dwca, "store -> DwC-A zip")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--fields", required=True)
    sp.add_argument("--query")
    sp.add_argument("--out", required=True)
    sp.add_argument(
        "--media",
        help="media-descriptor parquet (one row per record x media; "
        "identifier/creator/.../references columns) -> image.csv + "
        "Multimedia meta.xml extension",
    )
    sp.add_argument(
        "--core-id",
        dest="core_id",
        default="occurrenceID",
        help="field linking media rows to core records (written as the "
        "archive's core id column)",
    )

    sp = tool("dedup-detect", cmd_dedup_detect, "grouped duplicate detection")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument(
        "--lsids", help="comma-separated taxon ids to re-run (reference -g)"
    )
    sp.add_argument(
        "--lsid-file", dest="lsid_file",
        help="file of taxon ids, one per line (reference -f)",
    )
    sp.add_argument(
        "--since",
        help="re-run only taxa with records modified since this date "
        "(reference --inc / IncrementalDuplicationDetection)",
    )
    sp.add_argument(
        "--modified-col", dest="modified_col", default="lastModifiedTime",
        help="column --since compares against",
    )
    sp.add_argument(
        "--prev",
        help="previous duplicate store to merge the scoped re-run into",
    )

    sp = tool("jackknife", cmd_jackknife, "per-group jackknife outlier stats")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--group-cols", dest="group_cols", required=True)
    sp.add_argument("--value-col", dest="value_col", required=True)
    sp.add_argument("--out", required=True)

    sp = tool(
        "outlier-detect",
        cmd_outlier_detect,
        "record-level jackknife outliers with a persisted store",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--group-cols", dest="group_cols", required=True)
    sp.add_argument("--layer-cols", dest="layer_cols", required=True)
    sp.add_argument("--id-col", dest="id_col", default="occurrenceID")
    sp.add_argument("--cell-col", dest="cell_col", default=None)
    sp.add_argument("--since", default=None, help="re-detect groups touched since")
    sp.add_argument(
        "--modified-col", dest="modified_col", default="lastModifiedTime"
    )
    sp.add_argument("--prev", default=None, help="standing outlier store to merge into")
    sp.add_argument(
        "--revert-out", dest="revert_out", default=None,
        help="also write the no-longer-outlier record ids (reset list)",
    )
    sp.add_argument("--out", required=True)

    sp = tool(
        "mark-outliers", cmd_mark_outliers,
        "apply outlier results to a processed store as system assertions",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--outliers", required=True, help="outlier store or rollup parquet")
    sp.add_argument("--reverts", default=None, help="revert list parquet (outlier-detect --revert-out)")
    sp.add_argument("--key-col", dest="key_col", default="occurrenceID")
    sp.add_argument("--out", required=True)

    sp = tool(
        "expert-outlier-detect",
        cmd_expert_outlier_detect,
        "expert-distribution outliers with a persisted record store",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument(
        "--distributions", required=True,
        help="expert-range dim parquet (taxonConceptID, wkt)",
    )
    sp.add_argument("--taxon-col", dest="taxon_col", default="taxonConceptID")
    sp.add_argument("--lat-col", dest="lat_col", default="decimalLatitude")
    sp.add_argument("--lon-col", dest="lon_col", default="decimalLongitude")
    sp.add_argument("--id-col", dest="id_col", default="occurrenceID")
    sp.add_argument(
        "--uncertainty-col", dest="uncertainty_col",
        default="coordinateUncertaintyInMeters",
    )
    sp.add_argument(
        "--threshold", type=float, default=50_000.0,
        help="metres outside the range beyond the record's uncertainty "
        "before it is an outlier (reference --thresh, default 50 km)",
    )
    sp.add_argument("--since", default=None, help="re-test taxa touched since")
    sp.add_argument(
        "--modified-col", dest="modified_col", default="lastModifiedTime"
    )
    sp.add_argument("--prev", default=None, help="standing store to merge into")
    sp.add_argument(
        "--revert-out", dest="revert_out", default=None,
        help="also write the no-longer-outlier record ids (reset list)",
    )
    sp.add_argument(
        "--rollup-out", dest="rollup_out", default=None,
        help="also write the per-taxon outlier row-key rollup "
        "(distribution_outliers parity)",
    )
    sp.add_argument("--out", required=True)

    sp = tool(
        "mark-expert-outliers", cmd_mark_expert_outliers,
        "apply expert-distribution results to a processed store",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument(
        "--outliers", required=True,
        help="expert-outlier record store parquet (expert-outlier-detect output)",
    )
    sp.add_argument(
        "--reverts", default=None,
        help="revert list parquet (expert-outlier-detect --revert-out)",
    )
    sp.add_argument("--key-col", dest="key_col", default="occurrenceID")
    sp.add_argument("--out", required=True)

    sp = tool(
        "mark-duplicates", cmd_mark_duplicates,
        "apply duplicate results to a processed store (columns + assertions)",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--dups", required=True, help="duplicate store parquet (dedup-detect output)")
    sp.add_argument("--reverts", default=None, help="no-longer-duplicate record ids parquet")
    sp.add_argument("--key-col", dest="key_col", default="occurrenceID")
    sp.add_argument("--out", required=True)

    sp = tool("delete", cmd_delete, "delete by keys or query")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--keys")
    sp.add_argument("--query")
    sp.add_argument("--key-col", dest="key_col", default="rowKey")
    sp.add_argument("--out", required=True)
    sp.add_argument("--dellog", help="write the deletion log here")

    sp = tool(
        "resource-cleanup",
        cmd_resource_cleanup,
        "mark/strip/remove a resource's stale records or columns",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--dr", required=True)
    sp.add_argument("--type", choices=("rows", "columns", "delete"), required=True)
    sp.add_argument("--date", help="last load date (ISO); cutoff for rows/delete")
    sp.add_argument("--cols", help="comma-separated column list (columns mode)")
    sp.add_argument(
        "--delcols",
        action="store_true",
        help="treat --cols as a delete list instead of a keep list",
    )
    sp.add_argument("--test", action="store_true", help="report only, write nothing")
    sp.add_argument("--out")
    sp.add_argument("--log", help="write the change/delete log here")

    sp = tool(
        "import", cmd_import,
        "raw migration import: headerless delimited file + column list",
    )
    sp.add_argument("--path", required=True)
    sp.add_argument("--columns", required=True, help="comma-separated names")
    sp.add_argument("--id-idx", dest="id_idx", type=int, default=0)
    sp.add_argument("--separator", default="\t")
    sp.add_argument("--quotechar", default="|")
    sp.add_argument("--escapechar", default="$")
    sp.add_argument("--header", action="store_true", help="skip a header line")
    sp.add_argument("--out", required=True)

    sp = tool(
        "delete-column",
        cmd_delete_column,
        "clear columns on EVERY record (whole-table DeleteLocalColumn)",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--cols", required=True, help="comma-separated columns to clear")
    sp.add_argument("--out", required=True)

    sp = tool(
        "rename-columns",
        cmd_rename_columns,
        "move values to new column names and drop the old (RenameColumns)",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument(
        "--map", dest="colmap", required=True,
        help="comma-separated old=new pairs (e.g. aus1=cl22,ibra_merged=cl20)",
    )
    sp.add_argument("--out", required=True)

    sp = tool(
        "remap-unique-key",
        cmd_remap_unique_key,
        "mint unique ids from a new field list; write uniqueID->rowKey map",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--drs", required=True, help="comma-separated resource uids")
    sp.add_argument("--fields", required=True, help="comma-separated id fields")
    sp.add_argument("--out", required=True)

    sp = tool("lsh-index", cmd_lsh_index, "documents store -> persisted LSH index")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--append", action="store_true")

    sp = tool(
        "near-dup-probe", cmd_near_dup_probe, "probe batch vs LSH index -> pairs"
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument(
        "--max-bucket",
        dest="max_bucket",
        type=int,
        default=100_000,
        help="drop band buckets larger than this (viral-bucket guard)",
    )
    sp.add_argument(
        "--append-after",
        dest="append_after",
        action="store_true",
        help="append the batch's signatures to the index after probing",
    )

    sp = tool("semantic-dedup", cmd_semantic_dedup, "SemDeDup pruning decisions")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--centroids", help="centroid store (cell_id, centroid)")
    sp.add_argument("--cells", type=int, default=16)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument("--id-col", dest="id_col", default="vec_id")
    sp.add_argument(
        "--embedding-col", dest="embedding_col", default="embedding"
    )

    sp = tool("kmeans-train", cmd_kmeans_train, "embeddings -> centroid store")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--k", type=int, default=16)
    sp.add_argument("--iters", type=int, default=2)
    sp.add_argument("--id-col", dest="id_col", default="vec_id")
    sp.add_argument("--embedding-col", dest="embedding_col", default="embedding")

    sp = tool("curate", cmd_curate, "corpus curation pipeline -> manifest")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out")

    sp = tool("stream-ingest", cmd_stream_ingest, "availableNow staging tick")
    sp.add_argument("--staging", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--checkpoint", required=True)

    sp = tool(
        "stream-near-dup", cmd_stream_near_dup, "availableNow near-dup tick"
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--pairs", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--threshold", type=float, default=0.5)

    sp = tool(
        "stream-semantic-dedup", cmd_stream_semantic_dedup,
        "availableNow semantic-dedup tick",
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--decisions", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument("--nprobe", type=int, default=1)

    sp = tool(
        "stream-ivfpq", cmd_stream_ivfpq,
        "availableNow IVFADC index-maintenance tick",
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--neighbors", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--nprobe", type=int, default=2)
    sp.add_argument("--rerank", type=int, default=None, metavar="SHORTLIST")

    sp = tool(
        "stream-dedup-occ", cmd_stream_dedup_occ,
        "availableNow incremental duplication-detection tick",
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--store", required=True)
    sp.add_argument("--dups", required=True)
    sp.add_argument("--checkpoint", required=True)

    sp = tool(
        "stream-outliers", cmd_stream_outliers,
        "availableNow incremental jackknife-outlier tick",
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--store", required=True)
    sp.add_argument("--outliers", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--layer-cols", dest="layer_cols", default="el1,el2")
    sp.add_argument("--group-col", dest="group_col", default="taxonConceptID")
    sp.add_argument("--id-col", dest="id_col", default="occurrenceID")
    sp.add_argument("--cell-col", dest="cell_col", default=None)

    sp = tool(
        "stream-expert-outliers", cmd_stream_expert_outliers,
        "availableNow incremental expert-distribution outlier tick",
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--store", required=True)
    sp.add_argument("--outliers", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument(
        "--distributions", required=True,
        help="expert-range dim parquet (taxonConceptID, wkt)",
    )
    sp.add_argument("--threshold", type=float, default=None)

    sp = tool(
        "stream-classify", cmd_stream_classify, "availableNow model-gate tick"
    )
    sp.add_argument("--staging", required=True)
    sp.add_argument("--model", required=True, help="train-classifier output")
    sp.add_argument("--predictions", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--keep-label", dest="keep_label")

    sp = tool(
        "dsir-stats", cmd_dsir_stats, "seed persisted DSIR cp/cq histograms"
    )
    sp.add_argument("--in", dest="inp", required=True, help="initial raw corpus")
    sp.add_argument("--target", required=True, help="trusted target corpus")
    sp.add_argument("--n-hex", dest="n_hex", type=int, default=3)
    sp.add_argument("--out", required=True)

    sp = tool("stream-dsir", cmd_stream_dsir, "availableNow DSIR weight tick")
    sp.add_argument("--staging", required=True)
    sp.add_argument("--stats", required=True, help="dsir-stats output")
    sp.add_argument("--weights", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--threshold", type=float)

    sp = tool("build-corpus", cmd_build_corpus, "quality->lang->dedup corpus build")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument(
        "--quality-threshold", dest="quality_threshold", type=float, default=0.5
    )
    sp.add_argument(
        "--near-dup-threshold", dest="near_dup_threshold", type=float, default=0.5
    )
    sp.add_argument(
        "--max-bucket", dest="max_bucket", type=int, default=100_000,
        help="drop LSH band-buckets larger than this (viral-bucket guard)",
    )
    sp.add_argument("--mixture", help="source=weight,... (with --token-budget)")
    sp.add_argument("--token-budget", dest="token_budget", type=int)
    sp.add_argument(
        "--nb-model", dest="nb_model",
        help="train-classifier output; gate on its argmax (with --nb-keep-label)",
    )
    sp.add_argument("--nb-keep-label", dest="nb_keep_label")
    sp.add_argument(
        "--dsir-target", dest="dsir_target",
        help="trusted target corpus store; DSIR gate (with --dsir-threshold)",
    )
    sp.add_argument("--dsir-threshold", dest="dsir_threshold", type=float)
    sp.add_argument(
        "--substring-dedup", dest="substring_dedup", type=int,
        help="cut cross-document exact repeats >= this many chars "
        "(repeated_substring_spans; Lee et al. pass)",
    )
    sp.add_argument(
        "--decontaminate-eval", dest="decontaminate_eval",
        help="eval-docs store; cut train spans sharing >= "
        "--decontaminate-min-len exact chars with any eval doc",
    )
    sp.add_argument(
        "--decontaminate-min-len", dest="decontaminate_min_len", type=int,
    )
    sp.add_argument(
        "--anchor-hex-zeros", dest="anchor_hex_zeros", type=int, default=1,
        help="substring anchor density (0 = exact mode, the no-miss "
        "guarantee at ~16x hash volume)",
    )

    sp = tool("train-bpe", cmd_train_bpe, "corpus -> BPE merge-rule table")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--n-merges", dest="n_merges", type=int, required=True)
    sp.add_argument(
        "--max-words", dest="max_words", type=int,
        help="bound the word-frequency dim (top-N by frequency)",
    )
    sp.add_argument("--out", required=True)

    sp = tool(
        "train-classifier",
        cmd_train_classifier,
        "labeled documents -> persisted Naive Bayes model",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--label-col", dest="label_col", default="label")
    sp.add_argument("--n-hex", dest="n_hex", type=int, default=3)
    sp.add_argument("--out", required=True)

    sp = tool(
        "classify",
        cmd_classify,
        "score documents against a persisted Naive Bayes model",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--model", required=True, help="train-classifier output")
    sp.add_argument(
        "--keep-label",
        dest="keep_label",
        help="emit only documents whose argmax label matches (gate mode)",
    )
    sp.add_argument("--limit", type=int, default=20)
    sp.add_argument("--out")

    sp = tool(
        "dsir-select",
        cmd_dsir_select,
        "DSIR importance-weighted selection vs a target corpus",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--target", required=True, help="trusted target corpus")
    sp.add_argument("--n-hex", dest="n_hex", type=int, default=3)
    grp = sp.add_mutually_exclusive_group(required=True)
    grp.add_argument("--threshold", type=float)
    grp.add_argument("--top-fraction", dest="top_fraction", type=float)
    sp.add_argument("--out")

    sp = tool(
        "export-shards",
        cmd_export_shards,
        "deterministic shard export (+optional BPE encode)",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--n-shards", dest="n_shards", type=int, default=8)
    sp.add_argument("--merges", help="train-bpe output; encode before sharding")
    sp.add_argument("--out", required=True)

    sp = tool("ivf-index", cmd_ivf_index, "embeddings -> persisted IVF index")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--centroids", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--append", action="store_true")

    sp = tool("ivfpq-index", cmd_ivfpq_index,
              "embeddings -> persisted IVFADC (residual-PQ) index")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--centroids")  # required except with --append
    sp.add_argument("--index", required=True)
    sp.add_argument("--codebook", help="stored (j, embedding) parquet")
    sp.add_argument("--train-codebook", dest="train_codebook", type=int,
                    help="train K codewords per subspace on the residuals")
    sp.add_argument("--subspaces", type=int, default=8)
    sp.add_argument("--append", action="store_true")
    sp.add_argument("--store-vectors", dest="store_vectors",
                    action="store_true",
                    help="also persist cell-partitioned raw vectors for "
                         "--rerank queries")

    sp = tool("ivfpq-query", cmd_ivfpq_query,
              "ADC top-k against the IVFADC index")
    sp.add_argument("--index", required=True)
    sp.add_argument("--queries", required=True, help="embeddings store")
    sp.add_argument("--query-ids", dest="query_ids", required=True)
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--nprobe", type=int, default=2)
    sp.add_argument("--subspaces", type=int, default=None,
                    help="defaults to the index's stored meta; an "
                         "explicit mismatch errors")
    sp.add_argument("--rerank", type=int, default=None, metavar="SHORTLIST",
                    help="exact-cosine re-rank of the ADC top-SHORTLIST "
                         "(needs an index built with --store-vectors)")
    sp.add_argument("--out")

    sp = tool("ivfpq-delete", cmd_ivfpq_delete,
              "tombstone ids out of the IVFADC index")
    sp.add_argument("--index", required=True)
    sp.add_argument("--ids", required=True, help="comma-separated ids")
    sp.add_argument("--check-present", dest="check_present",
                    action="store_true",
                    help="warn on ids the index has never seen (costs a "
                         "codes-store scan)")

    sp = tool("ivfpq-vacuum", cmd_ivfpq_vacuum,
              "physically remove tombstoned ids")
    sp.add_argument("--index", required=True)

    sp = tool("ann-query", cmd_ann_query, "top-k against the IVF index")
    sp.add_argument("--index", required=True)
    sp.add_argument("--queries", required=True, help="embeddings store")
    sp.add_argument("--query-ids", dest="query_ids", required=True)
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--nprobe", type=int, default=2)
    sp.add_argument("--out")

    sp = tool("snapshot-diff", cmd_snapshot_diff, "diff two corpus snapshots")
    sp.add_argument("--old", required=True)
    sp.add_argument("--new", required=True)
    sp.add_argument("--out")
    sp.add_argument("--id-col", dest="id_col", default="doc_id")
    sp.add_argument("--content-col", dest="content_col", default="text")

    sp = tool("compact", cmd_compact, "rewrite a store with bounded file sizes")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--target-files", dest="target_files", type=int, default=32)
    sp.add_argument("--max-records", dest="max_records", type=int, default=1_000_000)
    sp.add_argument("--partition-by", dest="partition_by")

    sp = tool(
        "load-dim",
        cmd_load_dim,
        "refresh a lookup dimension (conservation/habitat/attribution/taxon-profiles)",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument(
        "--kind",
        required=True,
        choices=["taxon-profiles", "conservation", "habitat", "attribution"],
    )
    sp.add_argument("--format", default="csv", choices=["csv", "json"])
    sp.add_argument("--out", required=True)

    sp = tool(
        "media-references",
        cmd_media_references,
        "rebuild per-record media references from a media store",
    )
    sp.add_argument("--store", required=True)
    sp.add_argument("--records")
    sp.add_argument("--out", required=True)

    sp = tool(
        "migrate-media",
        cmd_migrate_media,
        "fetch associatedMedia files missing from the media store",
    )
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--store")
    sp.add_argument("--out")
    sp.add_argument("--dry-run", dest="dry_run", action="store_true")

    sp = tool("debug-record", cmd_debug_record, "dump one record (rowKey or uuid) as JSON")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--key", required=True)

    sp = tool("scan-records", cmd_scan_records, "scan a store: totals, deleted, per-field counts")
    sp.add_argument("--in", dest="inp", required=True)
    sp.add_argument("--aggregate")
    sp.add_argument("--csv")

    sp = tool("describe", cmd_describe, "schema + per-resource counts")
    sp.add_argument("--in", dest="inp", required=True)

    sp = tool("healthcheck", cmd_healthcheck, "session + store readability")
    sp.add_argument("--in", dest="inp")

    tool("version", cmd_version, "print version")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
