"""Streaming pre-training admission chain: the stream-legal tier of
the batch ``x_crawl_chain`` composition (operators/recipe.py), run as
ONE Structured Streaming query — WARC archives dropped into a watched
directory flow through parse → robots → blocked-hosts → boilerplate →
heuristic quality → trained-classifier gate → DSIR gate per
micro-batch, exactly-once.

Fit-offline / gate-online split (the CCNet shape): every stage that
needs corpus-wide state gets it BEFORE the stream starts — robots
rules collect from a static frame into the closure tier's compiled
table, the classifier weights come from ``train_quality_classifier``
on a labeled batch, and the DSIR log-ratio table comes from
``dsir_logratio_table`` over a prior batch of the crawl.  The stream
itself is then pure per-record work: one ``mapInPandas`` parse pass,
one closure-tier Arrow pass for robots, and column algebra for
everything else — zero shuffles, zero streaming state, legal in plain
append mode.  The corpus-wide stages (url/exact/paragraph dedup,
DSIR top-k) CANNOT run per-record by construction; they stay batch
(the admitted stream lands in per-batch parquet partitions exactly so
a downstream batch dedup pass can run over accumulated output).

At 100 TB scale this is the crawl frontier's admission valve: the
per-record chain runs inside the scan stage on whatever executors the
micro-batch needs, nothing accumulates, and the only driver traffic
is the valved robots-rules collect at plan-build time.

Sink: the ``foreachBatch`` overwrite-``batch_id=N`` idiom shared with
streaming/semantic.py — a replayed micro-batch
rewrites its own partition instead of double-appending, and the
file-source checkpoint makes each archive exactly-once.  Parse-error
sentinel rows ride THROUGH the admission stages (every gate passes
``__quarantined`` rows, text transforms skip them) and split out to
``out_dir/_quarantine/batch_id=N`` at the sink — sidelined, never
silently dropped.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_QUAR = "__quarantined"


def admission_stages(
    docs: DataFrame,
    *,
    text_col: str = "text",
    url_col: str = "target_uri",
    robots_rules: DataFrame | None = None,
    blocked_domains: list[str] | None = None,
    boilerplate: dict | None = None,
    min_score: float | None = 0.3,
    weights: dict[int, float] | None = None,
    bias: float = 0.0,
    qc_buckets: int = 4096,
    min_prob: float = 0.5,
    qc_portable: bool = False,
    dsir_table: dict[int, float] | None = None,
    dsir_default: float = 0.0,
    dsir_buckets: int = 8192,
    dsir_min: float | None = None,
    dsir_portable: bool = False,
    gate_tier: str = "auto",
) -> DataFrame:
    """Apply the per-record admission stages to ``docs`` (streaming OR
    batch — the same plan serves both, which is what makes the
    streamed-vs-batch hash gate meaningful).  Stages whose parameters
    are ``None`` are skipped.  Rows flagged ``__quarantined`` (added
    here if absent) bypass every gate untouched.

    Every stage is append-mode stream-legal: robots uses the CLOSURE
    tier (rules collected from the static ``robots_rules`` frame at
    plan time, verdicts in one Arrow pass — operators/robots.py), the
    blocked-hosts anti-join is stream-static with a broadcast
    blocklist, and boilerplate / heuristic quality / classifier /
    DSIR are pure column expressions (text.remove_boilerplate,
    text.quality_score, selection.quality_prob_expr,
    selection.dsir_score_expr)."""
    from scratchdata_spark.operators.selection import (
        admission_scores_arrow_pass,
        dsir_score_expr,
        feature_hashes_col,
        quality_prob_expr,
    )
    from scratchdata_spark.operators.text import (
        quality_score,
        remove_boilerplate,
    )

    if gate_tier not in ("auto", "expr", "arrow"):
        raise ValueError(
            "admission_stages: gate_tier must be 'auto'|'expr'|'arrow'"
        )
    trained = weights is not None or dsir_table is not None
    # 'auto' resolves to the Arrow LUT tier: the r13 A/B (BENCH_
    # scale.json gate_tier_ablation, full chain, min-of-2 solo runs)
    # measured the expression tier's dense-literal HOFs losing at
    # every rung — 10x: 58.3 s expr vs 25.7 s arrow (2.3x); 100x:
    # 336.8 s vs 110.6 s (3.0x), identical rows_out, flat ±10% arrow
    # trigger walls.  The win compounds: the hash array is computed ONCE for
    # both gates (the expression tier tokenizes per gate), so the
    # 10x ablation ladder prices the DSIR gate at ~0 s on top of the
    # classifier.  The tiers share tokenizer, hash, and rounding,
    # parity-pinned by tests/test_admission_gate_tiers.py.
    # Exception: mixed hash families can't share one hash array —
    # stay on expressions (both-portable or both-default is the only
    # shape the chain uses).
    use_arrow = trained and gate_tier != "expr"
    if (
        weights is not None
        and dsir_table is not None
        and qc_portable != dsir_portable
    ):
        use_arrow = gate_tier == "arrow"
        if use_arrow:
            raise ValueError(
                "admission_stages: the arrow gate tier needs one hash"
                " family — qc_portable and dsir_portable differ"
            )

    if _QUAR not in docs.columns:
        docs = docs.withColumn(_QUAR, F.lit(False))
    quar = F.col(_QUAR)

    def gate(df: DataFrame, pred: Column) -> DataFrame:
        return df.filter(quar | pred)

    if robots_rules is not None:
        from scratchdata_spark.operators.robots import (
            filter_robots_disallowed,
        )

        # rule fetches are not content: drop the robots.txt records
        # themselves (quarantined rows have no URL and stay)
        docs = docs.filter(
            quar | ~F.coalesce(
                F.col(url_col).endswith("/robots.txt"), F.lit(False)
            )
        )
        # the closure tier keeps unknown hosts by default, so the
        # NULL-host quarantine rows pass through it unharmed
        docs = filter_robots_disallowed(
            docs, robots_rules, url_col=url_col, tier="closure"
        )
    if blocked_domains:
        from scratchdata_spark.operators.urls import filter_blocked_hosts

        # quarantine rows have a NULL target_uri → NULL host → never
        # match the anti-join's equi-key → survive (kept by contract)
        docs = filter_blocked_hosts(docs, blocked_domains, url_col=url_col)
    if boilerplate is not None:
        cleaned = remove_boilerplate(
            docs, text_col=text_col, out_col="__clean", **boilerplate
        )
        docs = cleaned.withColumn(
            text_col,
            F.when(quar, F.col(text_col)).otherwise(F.col("__clean")),
        ).drop("__clean")
        # EXPRESSION-SPACE lineage cut (the streaming twin of the
        # batch chain's checkpoint stage, r12 soak catch): without a
        # barrier, Catalyst inlines the boilerplate split/filter/join
        # expression into every downstream reference of the text
        # column, and the gate HOFs evaluate INTERPRETED (no codegen,
        # no common-subexpression elimination) — measured 16x on the
        # 1x soak corpus (48.8 s → 3.1 s for the full gate stack).
        # One Arrow identity pass per micro-batch materializes the
        # cleaned text exactly once; persist/localCheckpoint are not
        # append-legal, this is.
        if min_score is not None or weights is not None or dsir_table:
            docs = docs.mapInPandas(lambda it: it, docs.schema)
    if min_score is not None:
        docs = gate(docs, quality_score(F.col(text_col)) >= float(min_score))
    if dsir_table is not None and dsir_min is None:
        raise ValueError(
            "admission_stages: dsir_table needs dsir_min — the"
            " streaming gate is a threshold (top-k is not"
            " append-legal; run batch dsir_select downstream)"
        )
    if trained and use_arrow:
        # Arrow LUT tier: one hash-array HOF in the plan (shared by
        # both gates — the hash is modulus-independent, so this also
        # tokenizes ONCE where the expression tier tokenizes per
        # gate), then one mapInPandas pass doing the numpy gathers.
        # Map-only: still zero shuffles, zero state, append-legal.
        portable = qc_portable if weights is not None else dsir_portable
        docs = docs.withColumn(
            "__fh", feature_hashes_col(F.col(text_col), portable)
        )
        docs = admission_scores_arrow_pass(
            docs, "__fh",
            weights=weights, bias=bias, qc_buckets=qc_buckets,
            dsir_table=dsir_table, dsir_default=dsir_default,
            dsir_buckets=dsir_buckets,
        )
        if weights is not None:
            docs = docs.withColumn(
                "quality_prob",
                F.when(quar, F.lit(None)).otherwise(F.col("quality_prob")),
            )
            docs = gate(docs, F.col("quality_prob") >= float(min_prob))
        if dsir_table is not None:
            docs = docs.withColumn(
                "dsir_logweight",
                F.when(quar, F.lit(None)).otherwise(
                    F.col("dsir_logweight")
                ),
            )
            docs = gate(docs, F.col("dsir_logweight") >= float(dsir_min))
        return docs
    if weights is not None:
        prob = quality_prob_expr(
            weights, bias, text_col,
            buckets=qc_buckets, portable=qc_portable,
        )
        docs = docs.withColumn(
            "quality_prob", F.when(quar, F.lit(None)).otherwise(prob)
        )
        docs = gate(docs, F.col("quality_prob") >= float(min_prob))
    if dsir_table is not None:
        w = dsir_score_expr(
            dsir_table, dsir_default, text_col,
            buckets=dsir_buckets, portable=dsir_portable,
        )
        docs = docs.withColumn(
            "dsir_logweight", F.when(quar, F.lit(None)).otherwise(w)
        )
        docs = gate(docs, F.col("dsir_logweight") >= float(dsir_min))
    return docs


def start_admission_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    record_types: tuple[str, ...] = ("response",),
    keep_paragraphs: bool = True,
    trigger: dict | None = None,
    max_files_per_trigger: int = 1,
    **stage_params,
):
    """Start the streaming admission chain over WARC archives in
    ``source_dir``; admitted documents land under
    ``out_dir/batch_id=N``, parse-error sentinels under
    ``out_dir/_quarantine/batch_id=N``.  ``prepare`` (optional) runs
    right after parse for caller column algebra (doc-id extraction,
    say) and MUST stay stream-legal; ``stage_params`` go to
    :func:`admission_stages`.  Returns the StreamingQuery."""
    from scratchdata_spark.operators.warc import (
        PARSE_ERROR_TYPE,
        WARC_SCHEMA,
        record_parser,
    )

    if "://" not in source_dir:
        os.makedirs(source_dir, exist_ok=True)
    binary_schema = (
        "path string, modificationTime timestamp,"
        " length long, content binary"
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.warc*")
        .load(source_dir)
        .select("path", "content")
    )
    parse = record_parser(
        record_types, True, on_error="skip", keep_paragraphs=keep_paragraphs
    )
    rows = files.mapInPandas(parse, WARC_SCHEMA).withColumn(
        _QUAR, F.col("warc_type") == PARSE_ERROR_TYPE
    )
    if prepare is not None:
        rows = prepare(rows)
    admitted = admission_stages(rows, **stage_params)

    def process_batch(batch_df, batch_id: int) -> None:
        # split at the sink only — the stages already carried the
        # quarantine rows through; persist so the two writes don't
        # each re-run the whole per-record chain on the micro-batch
        batch_df = batch_df.persist()
        try:
            batch_df.filter(~F.col(_QUAR)).drop(_QUAR).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
            bad = batch_df.filter(F.col(_QUAR))
            if bad.limit(1).count():
                bad.drop(_QUAR).write.mode("overwrite").parquet(
                    os.path.join(out_dir, "_quarantine", f"batch_id={batch_id}")
                )
        finally:
            batch_df.unpersist()

    trigger = trigger or {"availableNow": True}
    return (
        admitted.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
