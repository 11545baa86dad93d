"""The full occurrence lifecycle as one composable pipeline.

The reference's `biocache ingest` (Store.ingest, Store.scala:625-638) runs
load -> sample -> process -> index per data resource as separate CLI tools
over shared storage. Here the same lifecycle is a function composition over
DataFrames — each stage lazy, the whole pipeline one Spark job graph when
written:

    raw = load_archive(...) | load_csv(...)
    processed = run_pipeline(raw, dims)      # process + enrich + sample
    index = build_index(processed)           # the query surface
    index.write.partitionBy("data_resource_uid").parquet(...)

Dims are small broadcast tables (taxa, data resources, sensitive species,
cl/el layers); records never leave the executors.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import DataFrame

from biocache_store_spark.operators.index_projection import build_index
from biocache_store_spark.operators.sampling import (
    distinct_points,
    enrich_records,
    sample_points,
)
from biocache_store_spark.processors.chain import enrich_classification
# bound under this name because tracing tools patch this module attribute
from biocache_store_spark.processors.chain import (
    process_records as process_records_hybrid,
)
from biocache_store_spark.processors.enrichment import (
    apply_sensitivity,
    enrich_attribution,
)


@dataclass
class Dimensions:
    """The broadcastable lookup tables the processors need."""

    taxa: DataFrame | None = None
    data_resources: DataFrame | None = None
    sensitive_species: DataFrame | None = None
    cl_layers: DataFrame | None = None
    el_layers: DataFrame | None = None
    default_values_by_resource: dict | None = None
    # the cl layerID whose polygon names ARE state/province names (the
    # reference's `layer.state.province` Config.stateProvinceLayerID,
    # e.g. cl22 = aus1). When set alongside sensitive_species +
    # cl_layers, records lacking a raw stateProvince get their state
    # resolved from coordinates BEFORE sensitivity runs — the
    # SensitivityProcessor-after-LocationProcessor ordering of the
    # reference (SDSServiceTest.scala): without it, a coordinates-only
    # record inside a sensitive zone would publish at full precision.
    state_layer: str | None = None


def run_pipeline(
    raw: DataFrame,
    dims: Dimensions | None = None,
    today: _dt.date | None = None,
) -> DataFrame:
    """raw occurrences -> fully processed records (the 'process' + 'sample'
    stages). Stage order mirrors Store.ingest: sensitivity runs after
    location (it blurs the processed coordinates' raw source), sampling
    last over the final coordinates."""
    dims = dims or Dimensions()
    df = raw
    # sensitivity reads the state through this column; defaults to the raw
    # field and is upgraded to the layer-resolved value below. Kept OUT of
    # stateProvince itself so the raw column stays verbatim provider data
    # (the reference only ever writes the intersect result to processed —
    # mutating raw would make a later reprocess treat the inferred state
    # as verbatim).
    sens_state_col = "stateProvince"
    if (
        dims.sensitive_species is not None
        and dims.cl_layers is not None
        and dims.state_layer is not None
        and "stateProvince" in df.columns
        and "decimalLatitude" in df.columns
        and "decimalLongitude" in df.columns
    ):
        # resolve the layer state for records lacking a raw
        # stateProvince so zone-scoped sensitivity rules see it (see
        # Dimensions.state_layer). Distinct points only, one polygon
        # layer — dimension-sized work even at full corpus scale.
        from pyspark.sql import functions as F

        state_dim = dims.cl_layers.filter(
            F.col("layerID") == dims.state_layer
        )
        pts = distinct_points(df)
        sampled = sample_points(pts, state_dim, None).select(
            F.col("lat").alias("__st_lat"),
            F.col("lon").alias("__st_lon"),
            F.element_at("cl", dims.state_layer).alias("__layer_state"),
        )
        sens_state_col = "__resolved_state"
        df = (
            df.join(
                sampled,
                (F.col("decimalLatitude").cast("double") == F.col("__st_lat"))
                & (F.col("decimalLongitude").cast("double") == F.col("__st_lon")),
                "left",
            )
            .withColumn(
                sens_state_col,
                F.coalesce(
                    F.when(F.col("stateProvince") == "", None).otherwise(
                        F.col("stateProvince")
                    ),
                    F.col("__layer_state"),
                ),
            )
            .drop("__st_lat", "__st_lon", "__layer_state")
        )
    if dims.sensitive_species is not None:
        if "generalisation" in dims.sensitive_species.columns:
            # full SDS rule shape (zone-scoped conservation instances,
            # WITHHOLD, originalSensitiveValues round-trip)
            from pyspark.sql import functions as F

            from biocache_store_spark.processors.sds import apply_sds

            id_col = next(
                (c for c in ("rowKey", "occurrenceID") if c in df.columns), None
            )
            if id_col is None:
                df = df.withColumn("__sds_id", F.monotonically_increasing_id())
                df = apply_sds(
                    df,
                    dims.sensitive_species,
                    id_col="__sds_id",
                    state_col=sens_state_col,
                ).drop("__sds_id")
            else:
                df = apply_sds(
                    df,
                    dims.sensitive_species,
                    id_col=id_col,
                    state_col=sens_state_col,
                )
        else:
            df = apply_sensitivity(
                df, dims.sensitive_species, state_col=sens_state_col
            )
    # __resolved_state (when present) rides through the chain so the
    # processed-state fill below can consume the raw-coordinate intersect
    # even where SDS has since withheld/blurred the processed coordinates
    # (the reference's LocationProcessor writes the intersect result
    # before SensitivityProcessor generalizes).
    # the chain emits its own assertions column; stash any pre-chain
    # assertions (e.g. sensitivity) and concat afterwards
    pre_assertions = "assertions" in df.columns
    if pre_assertions:
        df = df.withColumnRenamed("assertions", "__pre_assertions")
    processed = process_records_hybrid(
        df,
        default_values_by_resource=dims.default_values_by_resource,
        today=today,
    )
    if pre_assertions:
        from pyspark.sql import functions as F

        processed = processed.withColumn(
            "assertions",
            F.concat(F.col("__pre_assertions"), F.col("assertions")),
        ).drop("__pre_assertions")
    if dims.taxa is not None:
        processed = enrich_classification(processed, dims.taxa)
    if dims.data_resources is not None:
        processed = enrich_attribution(processed, dims.data_resources)
    if dims.cl_layers is not None or dims.el_layers is not None:
        points = distinct_points(processed)
        samples = sample_points(points, dims.cl_layers, dims.el_layers)
        processed = enrich_records(processed, samples)
        if dims.state_layer is not None:
            # the chain's location stage canonicalizes a raw state only
            # for no-coordinate records (LocationProcessor does the rest
            # via its layer intersect, which the Spark path expresses as
            # this sampling join) — so fill the processed state from the
            # designated state layer where it is still blank, exactly
            # what the reference's intersect would have written. Only
            # the processed struct is written: the raw columns stay
            # verbatim provider data.
            from itertools import chain as _chain

            from pyspark.sql import functions as F

            from biocache_store_spark.processors.location import (
                STATE_TO_COUNTRY,
            )

            def nonblank(c):
                return F.when(c == "", None).otherwise(c)

            # precedence mirrors the reference's processor order: the
            # raw-coordinate intersect (LocationProcessor runs BEFORE
            # SensitivityProcessor) wins over the post-chain sampling,
            # which ran on the PROCESSED coordinates — for a blurred
            # record near a border that sampling can land in the wrong
            # polygon, and for a withheld record it returns nothing
            fills = []
            if "__resolved_state" in processed.columns:
                fills.append(F.col("__resolved_state"))
            fills.append(F.element_at("cl", dims.state_layer))
            state = F.coalesce(
                nonblank(F.col("processed")["stateProvince"]), *fills
            )
            # the reference infers country from the resolved state
            # (StateProvinceToCountry); 8-entry literal map, codegen
            s2c = F.create_map(
                *[F.lit(v) for v in _chain(*STATE_TO_COUNTRY.items())]
            )
            country = F.coalesce(nonblank(F.col("processed")["country"]), s2c[state])
            processed = processed.withColumn(
                "processed",
                F.col("processed")
                .withField("stateProvince", state)
                .withField("country", country),
            )
    if "__resolved_state" in processed.columns:
        processed = processed.drop("__resolved_state")
    return processed


def ingest(
    raw: DataFrame,
    dims: Dimensions | None = None,
    today: _dt.date | None = None,
) -> DataFrame:
    """Full lifecycle: process + enrich + sample -> index table."""
    return build_index(run_pipeline(raw, dims, today))


def build_corpus(
    spark,
    docs,
    out_dir: str,
    quality_threshold: float = 0.5,
    near_dup_threshold: float = 0.5,
    max_bucket_size: int | None = 100_000,
    mixture_weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    nb_model_path: str | None = None,
    nb_keep_label: str | None = None,
    dsir_target=None,
    dsir_threshold: float | None = None,
    substring_dedup_min_len: int | None = None,
    decontaminate_eval=None,
    decontaminate_min_len: int | None = None,
    substring_anchor_hex_zeros: int = 1,
):
    """The end-to-end training-corpus build, composed from the tested
    operators — what a data-engineering user actually runs nightly:

      1. heuristic quality gate   (text_quality_score weighted score)
      1b. optional model gate     (persisted NB classifier argmax ==
          nb_keep_label; nb_model_path + nb_keep_label together)
      2. language gate            (declared lang == n-gram prediction)
      2b. optional DSIR gate      (importance vs dsir_target >=
          dsir_threshold — the threshold regime, no total order;
          derive the threshold with histogram_threshold offline)
      3. exact dedup              (md5 groupBy, keep min doc_id)
      3b. optional substring dedup (repeated_substring_spans +
          remove_spans: cross-document >= substring_dedup_min_len exact
          repeats cut everywhere but their corpus-first occurrence —
          the Lee et al. pass; docs cut to nothing are dropped)
      3c. optional substring decontamination (substring_decontaminate
          vs `decontaminate_eval` docs at >= decontaminate_min_len;
          spans cut, emptied docs dropped — set
          substring_anchor_hex_zeros=0 for the no-miss exact mode)
      4. near-dup clusters        (MinHash+LSH -> connected components)
         with the highest-QUALITY member kept per cluster
      5. optional mixture sampling (plan_mixture epochs/sample rates,
         applied as deterministic hash sampling per source)

    Writes `documents/` (kept docs + quality/score columns) and
    `manifest/` (per-source counts and token totals at each gate) under
    `out_dir`; returns the manifest DataFrame. Every stage is the
    already-oracle-verified operator — this function only sequences
    them, so the composition inherits their scale shapes (hash-keyed
    shuffles, broadcast dims, capped candidate generation).
    """
    from pyspark.sql import functions as F

    # pure argument validation belongs BEFORE any compute: at target
    # scale the stages below each materialize a full corpus pass, and a
    # half-given gate pair must not surface hours into the build
    if (nb_model_path is None) != (nb_keep_label is None):
        raise ValueError(
            "build_corpus: nb_model_path and nb_keep_label must be given "
            "together (one without the other silently skips the stage)"
        )
    if (dsir_target is None) != (dsir_threshold is None):
        raise ValueError(
            "build_corpus: dsir_target and dsir_threshold must be given "
            "together (one without the other silently skips the stage)"
        )
    if mixture_weights is not None or token_budget is not None:
        if mixture_weights is None or token_budget is None:
            raise ValueError(
                "build_corpus: mixture_weights and token_budget must be "
                "given together (one without the other silently skips the "
                "stage)"
            )
    if (decontaminate_eval is None) != (decontaminate_min_len is None):
        raise ValueError(
            "build_corpus: decontaminate_eval and decontaminate_min_len "
            "must be given together (one without the other silently skips "
            "the stage)"
        )
    for v, what in (
        (substring_dedup_min_len, "substring_dedup_min_len"),
        (decontaminate_min_len, "decontaminate_min_len"),
    ):
        # _anchor_windows refuses anchor_k > min_len; fail HERE, before
        # stages 1-3 burn a full corpus pass, not mid-build (the stage
        # uses the operator's default anchor_k=8)
        if v is not None and v < 8:
            raise ValueError(
                f"build_corpus: {what} must be >= 8 (the anchor k-gram "
                "length — shorter spans cannot be anchored)"
            )
    if substring_anchor_hex_zeros < 0:
        raise ValueError(
            "build_corpus: substring_anchor_hex_zeros must be >= 0 "
            "(0 = exact mode) — failing here, not after stages 1-3 ran"
        )

    from biocache_store_spark.operators.components import (
        component_representatives,
        connected_components,
    )
    from biocache_store_spark.operators.curation import plan_mixture
    from biocache_store_spark.operators.minhash import near_duplicates
    from biocache_store_spark.queries.text import (
        _langid_scored,
        _predicted_lang,
        _quality_frame,
    )

    docs = docs.select("doc_id", "text", "lang", "source")

    def stage_counts(df, stage):
        from biocache_store_spark.functions.text import token_count

        return df.select(
            "source", token_count(F.col("text")).alias("__tok")
        ).groupBy("source").agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").alias("n_tokens"),
        )

    # each stage's frame is persisted: the per-stage manifest counts plus
    # the final writes would otherwise re-execute the full quality ->
    # langid -> minhash -> connected-components lineage once per action
    persisted: list = []

    def stage(df):
        # persist AND materialize: later stages branch over this frame
        # (DSIR reads it twice, CC loops over it, the manifest counts
        # it), and branches of one action can launch as concurrent AQE
        # stages — over an unmaterialized cache each would recompute
        # the full upstream lineage in parallel (measured: the gated
        # build went from >300 s to ~35 s at sf0.001 with the eager
        # fill). The count reads what the cache just wrote — one cheap
        # pass per stage, never a lineage replay.
        df = df.persist()
        df.count()
        persisted.append(df)
        return df

    docs = stage(docs)
    manifests = [stage_counts(docs, "0_input")]

    quality = _quality_frame(docs).select("doc_id", "quality_score")
    docs = docs.join(quality, "doc_id").filter(
        F.col("quality_score") >= quality_threshold
    )
    docs = stage(docs)
    manifests.append(stage_counts(docs, "1_quality"))

    if nb_model_path is not None:
        from biocache_store_spark.operators.classifier import (
            nb_classify,
            read_nb_model,
        )

        model, labels, n_hex = read_nb_model(spark, nb_model_path)
        kept = (
            nb_classify(docs, model, labels, n_hex=n_hex)
            .filter(F.col("label") == nb_keep_label)
            .select("doc_id")
        )
        docs = docs.join(kept, "doc_id")
        docs = stage(docs)
        manifests.append(stage_counts(docs, "1b_model_gate"))

    lang_ok = _langid_scored(docs.select("doc_id", "text", "lang")).select(
        "doc_id", _predicted_lang().alias("__pred")
    )
    # unlabeled docs (lang NULL — the load_jsonl default when the corpus
    # carries no lang field) pass the gate: the check is declared-vs-
    # predicted MISMATCH, and no declaration can't mismatch
    docs = docs.join(lang_ok, "doc_id").filter(
        F.col("lang").isNull() | (F.col("lang") == F.col("__pred"))
    ).drop("__pred")
    docs = stage(docs)
    manifests.append(stage_counts(docs, "2_language"))

    if dsir_target is not None:
        from biocache_store_spark.operators.curation import (
            dsir_importance,
            dsir_select,
        )

        weights = dsir_importance(docs, dsir_target)
        kept = (
            dsir_select(weights, threshold=dsir_threshold)
            .filter(F.col("selected"))
            .select("doc_id")
        )
        docs = docs.join(kept, "doc_id")
        docs = stage(docs)
        manifests.append(stage_counts(docs, "2b_dsir_gate"))

    h = F.md5("text")
    first = docs.groupBy(h.alias("__h")).agg(F.min("doc_id").alias("doc_id"))
    docs = docs.join(first.select("doc_id"), "doc_id")
    docs = stage(docs)
    manifests.append(stage_counts(docs, "3_exact_dedup"))

    def cut_spans(df, spans, stage_name):
        from biocache_store_spark.operators.curation import remove_spans

        # remove_spans preserves every input column and passes span-less
        # docs through verbatim, so the splice applies in place — no
        # join-back. A doc that was ENTIRELY repeated/contaminated
        # content cuts to nothing: drop it rather than ship an empty
        # doc — but only docs that actually HAD spans; a doc that was
        # already empty/whitespace must not vanish because an unrelated
        # optional stage was enabled (its fate belongs to the quality
        # gate, not here).
        cut_ids = spans.select("doc_id").distinct().withColumn(
            "__had_spans", F.lit(True)
        )
        out = (
            remove_spans(df, spans)
            .join(cut_ids, "doc_id", "left")
            .filter(
                F.col("__had_spans").isNull()
                | (F.trim(F.col("text")) != "")
            )
            .drop("__had_spans")
        )
        out = stage(out)
        manifests.append(stage_counts(out, stage_name))
        return out

    if substring_dedup_min_len is not None:
        from biocache_store_spark.operators.curation import (
            repeated_substring_spans,
        )

        spans = repeated_substring_spans(
            docs.select("doc_id", "text"),
            min_len=substring_dedup_min_len,
            anchor_hex_zeros=substring_anchor_hex_zeros,
        )
        docs = cut_spans(docs, spans, "3b_substring_dedup")

    if decontaminate_eval is not None:
        from biocache_store_spark.operators.curation import (
            substring_decontaminate,
        )

        spans = substring_decontaminate(
            docs.select("doc_id", "text"),
            decontaminate_eval.select("doc_id", "text"),
            min_len=decontaminate_min_len,
            anchor_hex_zeros=substring_anchor_hex_zeros,
        )
        docs = cut_spans(docs, spans, "3c_decontaminate")

    # max_bucket_size caps viral band-buckets (empty/boilerplate docs all
    # hash to one bucket): uncapped, the posting-list stage collect_lists
    # an entire such bucket into one aggregation buffer — the quadratic/
    # OOM failure mode the cap exists to prevent. Default matches the
    # near-dup-probe CLI; pass None only on corpora known bucket-clean.
    pairs = near_duplicates(
        docs, threshold=near_dup_threshold, max_bucket_size=max_bucket_size
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    keep_rep = component_representatives(
        comp, docs.select("doc_id", "quality_score")
    ).select(F.col("rep_doc_id").alias("doc_id"))
    clustered = comp.select(F.col("node").alias("doc_id"))
    losers = clustered.join(keep_rep, "doc_id", "left_anti")
    docs = docs.join(losers, "doc_id", "left_anti")
    docs = stage(docs)
    manifests.append(stage_counts(docs, "4_near_dup"))

    if mixture_weights is not None:
        plan = plan_mixture(docs, mixture_weights, token_budget)
        # apply each source's sample_rate as a deterministic md5 keep —
        # stratified_sample's hash discipline: strict `<` against a
        # 2-hex-char threshold of round(rate * 256), so rate 0 keeps
        # NOTHING ('< 00' is empty — a zero-weight source must not leak)
        # and rate >= 1 keeps everything (threshold 'zz' sorts above any
        # hex prefix; '100' from conv would compare LOWER than 'ff')
        thr_val = F.round(F.col("sample_rate") * 256, 0).cast("long")
        thr_hex = F.lpad(
            # lower(): conv emits uppercase hex, md5 is lowercase
            F.lower(F.conv(thr_val.cast("string"), 10, 16)), 2, "0"
        )
        rates = plan.select(
            "source",
            F.when(thr_val >= 256, F.lit("zz")).otherwise(thr_hex).alias("__thr"),
        )
        docs = docs.join(F.broadcast(rates), "source").filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < F.col("__thr")
        ).drop("__thr")
        docs = stage(docs)
        manifests.append(stage_counts(docs, "5_mixture"))

    manifest = manifests[0]
    for m in manifests[1:]:
        manifest = manifest.unionByName(m)
    docs.write.mode("overwrite").parquet(out_dir + "/documents")
    manifest.write.mode("overwrite").parquet(out_dir + "/manifest")
    for df in persisted:
        df.unpersist()
    return manifest


def export_training_shards(
    spark,
    docs,
    out_dir: str,
    n_shards: int = 8,
    merges=None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The final mile of the corpus build: order-randomize the kept
    documents and cut them into `n_shards` reproducible shards for a
    tokenizer/packing writer (operators/curation.py
    plan_training_shards). With a `merges` table (train_bpe_merges) the
    documents are BPE-encoded first and the packing cursor counts BPE
    symbols; otherwise it counts whitespace tokens. Written
    `partitionBy("shard")` after a shard repartition, so each shard is
    its own file set and a downstream writer streams one shard per
    task. Returns the per-shard summary (shard, n_docs, n_tokens) read
    back from the written output — verifying the files, not the plan."""
    from pyspark.sql import functions as F

    from biocache_store_spark.functions.text import token_count
    from biocache_store_spark.operators.bpe import apply_bpe
    from biocache_store_spark.operators.curation import plan_training_shards

    if merges is not None:
        docs = apply_bpe(docs, merges, text_col=text_col)
        tok_col = "bpe_tokens_count"
    else:
        docs = docs.withColumn("__n_tok", token_count(F.col(text_col)))
        tok_col = "__n_tok"
    planned = plan_training_shards(docs, n_shards, id_col=id_col, token_col=tok_col)
    (
        planned.withColumnRenamed(tok_col, "n_tok")
        .repartition("shard")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
