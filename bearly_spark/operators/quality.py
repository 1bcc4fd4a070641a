"""Data-quality expectations: declarative table validation reports.

The operational face of a 100 TB pipeline (the Delta-constraints /
Great-Expectations / dbt-tests shape): before a table revision ships,
assert what must hold — column nullability, value domains, key
uniqueness, referential integrity — and get a per-rule violation count
back, cheap enough to run on every batch.

Execution shape (why this is one of the cheapest operators here):

- every ROW-LEVEL rule compiles to ``SUM(CASE WHEN violated)`` inside
  ONE aggregate over ONE scan of the table — adding a rule adds an
  expression, not a pass, and the scan only reads the columns the
  rules mention (column pruning);
- a UNIQUE rule is one groupBy on its key counting surplus rows
  (Θ(distinct keys) partial-aggregated shuffle);
- a FOREIGN-KEY rule is one left-anti join against the referenced
  keys (broadcast when the dimension is small — the usual case);
- the report is a handful of (rule, violations) rows — unioned 1-row
  aggregates, trivially collectable, and joinable into the
  ``Observation``-style run metadata a pipeline records per batch.

Counts, not booleans: at scale the actionable question is "how many
and did it grow", which also makes the report ORACLE-CHECKABLE as
plain SQL (the registry twin states every rule as a FILTERed count).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bearly_spark.operators.text import ensure_parallelism
from bearly_spark.operators.rounding import (
    floor_round,
    rational_micro,
    rational_round,
)
from bearly_spark.streaming.store import drain, write_batch


def expectations_report(
    df: DataFrame,
    row_rules: dict[str, Column],
    unique_keys: dict[str, list[str]] | None = None,
    foreign_keys: dict[str, tuple[list[str], DataFrame, list[str]]] | None = None,
) -> DataFrame:
    """Per-rule violation counts as (rule, violations) rows.

    - ``row_rules``: rule name → boolean Column that is TRUE when the
      row VIOLATES the rule (e.g. ``F.col("x").isNull()``); all
      evaluated in one aggregate pass. NULL predicate results count as
      violations (an expectation that cannot be evaluated has failed —
      the conservative reading);
    - ``unique_keys``: rule name → key columns; violations = rows in
      excess of one per key;
    - ``foreign_keys``: rule name → (child keys, parent DataFrame,
      parent keys); violations = child rows (with non-null keys) whose
      key has no parent. Null child keys are the nullability rules'
      business, not the FK's.

    Rows are emitted in rule order (row rules, then unique, then FK) —
    deterministic output for the oracle twin.
    """
    spark = df.sparkSession
    reports: list[DataFrame] = []
    if row_rules:
        aggs = [
            F.coalesce(
                F.sum(F.when(F.coalesce(pred, F.lit(True)), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(name)
            for name, pred in row_rules.items()
        ]
        wide = df.agg(*aggs)
        reports.append(
            wide.unpivot([], list(row_rules), "rule", "violations")
        )
    for name, keys in (unique_keys or {}).items():
        surplus = (
            df.groupBy(*keys)
            .agg((F.count(F.lit(1)) - 1).alias("_extra"))
            .agg(F.coalesce(F.sum("_extra"), F.lit(0)).cast("long").alias("violations"))
            .select(F.lit(name).alias("rule"), "violations")
        )
        reports.append(surplus)
    for name, (child_keys, parent, parent_keys) in (foreign_keys or {}).items():
        child = df.select(
            *[F.col(c).alias(f"_k{i}") for i, c in enumerate(child_keys)]
        )
        for i in range(len(child_keys)):
            child = child.filter(F.col(f"_k{i}").isNotNull())
        par = parent.select(
            *[F.col(c).alias(f"_k{i}") for i, c in enumerate(parent_keys)]
        ).dropDuplicates()
        orphans = (
            child.join(par, [f"_k{i}" for i in range(len(child_keys))], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("violations"))
            .select(F.lit(name).alias("rule"), "violations")
        )
        reports.append(orphans)
    if not reports:
        return spark.createDataFrame([], "rule string, violations long")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def streaming_expectations(
    docs,
    report_dir: str,
    checkpoint_dir: str,
    row_rules: dict[str, Column],
    unique_keys: dict[str, list[str]] | None = None,
):
    """The per-batch face of the validation gate: every micro-batch's
    expectations report lands under ``report_dir/batch=<id>`` —
    idempotent (the ``streaming.store`` replay contract), so the report table is an append-only audit log
    of data quality per ingest batch. Uniqueness here is WITHIN-batch
    (cross-batch uniqueness is a table-level invariant — run
    :func:`expectations_report` over the table, or enforce it
    structurally with ``maintenance.merge_into`` upserts).

    Returns the started ``StreamingQuery`` (availableNow trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rep = expectations_report(batch_df, row_rules, unique_keys)
        write_batch(rep.coalesce(1), batch_id, report_dir)

    return drain(docs, checkpoint_dir, process)


def _drift_terms() -> list[Column]:
    """The drift-report output columns over integer micro-unit (6dp)
    shares ``_pm``/``_qm`` — shared by the numeric and categorical
    reports. Every compared value is either one IEEE division of an
    exact integer (shares) or a ``rational_round`` over exact integers
    (chi-square / TVD terms): bit-identical in every engine and
    build."""
    pm, qm = F.col("_pm"), F.col("_qm")
    dpm = qm - pm
    return [
        (pm.cast("double") / F.lit(1000000.0)).alias("p_before"),
        (qm.cast("double") / F.lit(1000000.0)).alias("q_after"),
        F.when(
            pm > 0, rational_round(dpm * dpm, F.lit(1_000_000) * pm, 6)
        ).alias("chi2_term"),
        rational_round(F.abs(dpm), F.lit(2_000_000), 6).alias("tvd_term"),
    ]


def drift_report(
    before: DataFrame,
    after: DataFrame,
    value_col: str,
    buckets: int = 10,
    decimals: int = 4,
    scale: int | None = None,
    cuts: DataFrame | None = None,
) -> DataFrame:
    """Distribution-drift report between two table states of a numeric
    column — the monitoring face of the DQ family (did this ingest
    batch / new crawl shift the price/length/score distribution?):
    bucket the AFTER data against the BEFORE distribution's quantile
    cutpoints and compare per-bucket mass.

    Buckets are the BEFORE frame's exact ``k/B`` quantiles (the
    equi-depth histogram's rounded-cutpoint + ties-stick-low rule, so
    both engines bucket identically); per bucket the report carries the
    before/after shares and two standard drift statistics whose
    arithmetic is ln-free and therefore exactly engine-twinnable:

    - ``chi2_term`` = (q−p)²/p  (Pearson chi-square contribution;
      sum over buckets ≈ the drift test statistic /
      population-stability signal),
    - ``tvd_term`` = |q−p|/2   (total-variation-distance contribution).

    Shares are quantized to integer micro-units (6dp) BEFORE the
    statistics, and the statistics themselves are exact rationals over
    those integers quantized by ``rounding.rational_round`` — no IEEE
    arithmetic anywhere in the compared values (round-8 midpoint
    audit: |q−p|/2 over 6dp shares is a multiple of 5e-7, i.e. EXACTLY
    a 6dp rounding boundary half the time — any float form is a
    cross-build landmine there). (PSI's ln(p/q) is deliberately not
    emitted: libm ln may differ in the last ulp between engines;
    chi-square and TVD carry the same signal deterministically.)

    Scale shape: one distributed-selection cutpoint pass over BEFORE
    (r9 — no single-task sort), then both
    scans are map-only bucket assignments into B-row aggregates —
    2 passes total, Θ(rows) with B-row output.

    NULL values are EXCLUDED from both sides (consistent with the
    quantile_cont cutpoints; shares are over non-null mass — a batch
    whose only change is added NULLs reports zero drift by design,
    monitor null RATE with ``expectations_report``).

    ``cuts`` (round 12): optionally inject a precomputed 1-row cutpoint
    frame (columns ``_c1.._c{buckets-1}`` — exactly what the internal
    ``exact_percentiles`` call would emit) so repeated monitoring runs
    against the same BEFORE snapshot amortize the cutpoint passes
    (registry callers serve it from an fixture-keyed cache)."""
    from bearly_spark.operators.aggregate import bucket_assign, exact_percentiles

    qs = [k / buckets for k in range(1, buckets)]
    names = [f"_c{k}" for k in range(1, buckets)]
    before = before.filter(F.col(value_col).isNotNull())
    after = after.filter(F.col(value_col).isNotNull())
    if cuts is None:
        cuts = exact_percentiles(
            before, [], value_col, qs, names=names, decimals=decimals, scale=scale
        )
    v = F.col(value_col)
    bucket = bucket_assign(v, names).alias("bucket")

    def shares(df: DataFrame, out: str) -> DataFrame:
        counted = (
            df.crossJoin(F.broadcast(cuts))
            .groupBy(bucket)
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        total = counted.agg(F.sum("_n").alias("_t"))
        return counted.crossJoin(F.broadcast(total)).select(
            "bucket",
            rational_micro(F.col("_n"), F.col("_t"), 6).alias(out),
        )

    p = shares(before, "_pm")
    q = shares(after, "_qm")
    joined = p.join(q, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("_pm", F.lit(0)).alias("_pm"),
        F.coalesce("_qm", F.lit(0)).alias("_qm"),
    )
    return joined.select("bucket", *_drift_terms())


def iqr_outlier_report(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: float = 1.5,
    scale: int | None = None,
    cuts: DataFrame | None = None,
) -> DataFrame:
    """Tukey-fence outlier counts per group: values outside
    ``[q1 − k·IQR, q3 + k·IQR]`` (k=1.5 is the classic whisker rule) —
    the anomaly-detection face of the DQ family, counts-not-booleans
    like ``expectations_report`` so drift in outlier mass is visible
    round over round.

    Quartiles come from the exact percentile path (distributed
    selection for few groups since r9, spill-safe rank window past that)
    (4dp-rounded, engine-twinnable); fences are fixed-shape double
    arithmetic on those rounded quartiles, and the flag compares the
    raw value against the fence — both engines see identical fences, so
    identical flags. Output per group: ``n``, ``n_low``, ``n_high``,
    ``lo_fence``, ``hi_fence``. Two passes: one per-group quartile
    sort, one broadcast-join + map-only count.

    NULL values are EXCLUDED (neither counted in ``n`` nor flagged —
    the quantile_cont contract; without the filter a NULL-bearing
    column yields NULL quartiles and a silent all-clear report —
    review catch, round 6). Monitor null rates with
    ``expectations_report``.

    ``cuts`` (round 12): optionally inject precomputed per-group
    quartiles (columns ``group_cols + [_q1, _q3]``, 4dp-rounded like
    the internal call) — monitoring reruns over an unchanged snapshot
    then skip the quartile passes (registry callers share them with
    the percentile queries via an fixture-keyed cache)."""
    from bearly_spark.operators.aggregate import exact_percentiles

    df = df.filter(F.col(value_col).isNotNull())
    qr = cuts if cuts is not None else exact_percentiles(
        df, group_cols, value_col, (0.25, 0.75), names=["_q1", "_q3"], scale=scale
    )
    iqr = F.col("_q3") - F.col("_q1")
    fenced = qr.select(
        *group_cols,
        F.round(F.col("_q1") - k * iqr, 6).alias("lo_fence"),
        F.round(F.col("_q3") + k * iqr, 6).alias("hi_fence"),
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(fenced), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(v < F.col("lo_fence"), 1).otherwise(0)).alias("n_low"),
            F.sum(F.when(v > F.col("hi_fence"), 1).otherwise(0)).alias("n_high"),
            F.first("lo_fence").alias("lo_fence"),
            F.first("hi_fence").alias("hi_fence"),
        )
    )


def drift_report_categorical(
    before: DataFrame, after: DataFrame, cat_col: str
) -> DataFrame:
    """Categorical counterpart of :func:`drift_report`: per-category
    before/after shares plus the same ln-free drift statistics
    (chi-square and TVD contributions). No cutpoints needed — the
    categories ARE the buckets; a category present on one side only
    gets share 0.0 on the other (chi2 NULL when before-share is 0,
    which is the honest "new category appeared" signal). NULL
    categories form their own bucket (a null-rate shift IS categorical
    drift). Two wordcount-shaped passes, Θ(categories) output."""

    def shares(df: DataFrame, out: str) -> DataFrame:
        counted = df.groupBy(F.col(cat_col).alias("category")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        total = counted.agg(F.sum("_n").alias("_t"))
        return counted.crossJoin(F.broadcast(total)).select(
            "category",
            rational_micro(F.col("_n"), F.col("_t"), 6).alias(out),
        )

    p = shares(before, "_pm")
    q = shares(after, "_qm")
    joined = p.join(q, p["category"].eqNullSafe(q["category"]), "full_outer").select(
        F.coalesce(p["category"], q["category"]).alias("category"),
        F.coalesce("_pm", F.lit(0)).alias("_pm"),
        F.coalesce("_qm", F.lit(0)).alias("_qm"),
    )
    # exact-integer drift terms — same contract as drift_report
    return joined.select("category", *_drift_terms())


def streaming_drift(
    data,
    baseline: DataFrame,
    value_col: str,
    report_dir: str,
    checkpoint_dir: str,
    buckets: int = 10,
    scale: int | None = None,
):
    """Drift monitoring AT INGEST: each arriving micro-batch's value
    distribution is compared against a FROZEN baseline (cutpoints and
    shares computed ONCE at stream start from ``baseline`` and closed
    over — per-batch work is one map-only bucket assignment plus a
    B-row aggregate), and the per-batch drift report lands under
    ``report_dir/batch=<id>`` — idempotent (the ``streaming.store``
    replay contract), so replays rewrite their own slice. The ML-ops
    production shape: train-time distribution frozen, serving/ingest
    batches scored against it continuously.

    Returns the started ``StreamingQuery`` (availableNow trigger)."""
    from bearly_spark.operators.aggregate import bucket_assign, exact_percentiles

    qs = [k / buckets for k in range(1, buckets)]
    names = [f"_c{k}" for k in range(1, buckets)]
    base_nn = baseline.filter(F.col(value_col).isNotNull())
    cut_row = exact_percentiles(
        base_nn, [], value_col, qs, names=names, scale=scale
    ).collect()[0]
    spark = baseline.sparkSession
    cuts = spark.createDataFrame([cut_row])
    v = F.col(value_col)
    bucket = bucket_assign(v, names).alias("bucket")
    p_counted = base_nn.crossJoin(F.broadcast(cuts)).groupBy(bucket).agg(
        F.count(F.lit(1)).alias("_n")
    )
    p_total = p_counted.agg(F.sum("_n").alias("_t"))
    # integer micro shares — the SAME exact-integer quantization
    # drift_report uses (round 8), so the frozen baseline is
    # bit-identical to a batch-mode report over the same frame
    p_rows = (
        p_counted.crossJoin(F.broadcast(p_total))
        .select(
            "bucket",
            rational_micro(F.col("_n"), F.col("_t"), 6).alias("_pm"),
        )
        .collect()
    )
    p_base = spark.createDataFrame(
        [(r["bucket"], r["_pm"]) for r in p_rows],
        "bucket int, _pm long",
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bdf = batch_df.filter(F.col(value_col).isNotNull())
        counted = (
            bdf.crossJoin(F.broadcast(cuts)).groupBy(bucket).agg(
                F.count(F.lit(1)).alias("_n")
            )
        )
        total = counted.agg(F.sum("_n").alias("_t"))
        q = counted.crossJoin(F.broadcast(total)).select(
            "bucket",
            rational_micro(F.col("_n"), F.col("_t"), 6).alias("_qm"),
        )
        rep = (
            p_base.join(q, "bucket", "full_outer")
            .select(
                "bucket",
                F.coalesce("_pm", F.lit(0)).alias("_pm"),
                F.coalesce("_qm", F.lit(0)).alias("_qm"),
            )
            .select(
                "bucket",
                *_drift_terms(),
            )
        )
        write_batch(rep.coalesce(1), batch_id, report_dir)

    return drain(data, checkpoint_dir, process)


def winsorize(
    df: DataFrame,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    scale: int | None = None,
) -> DataFrame:
    """Percentile winsorization (feature prep / robust-stats clipping):
    values below the ``lo_q`` quantile or above the ``hi_q`` quantile
    are clamped to those cutpoints; output adds (``<col>_winsorized``,
    ``was_clipped``). NULL values pass through unclipped (NULL is
    missing, not extreme).

    The cutpoints come from the twin-proven exact-percentile path
    (distributed selection since r9, 4dp) and enter the clip
    expressions as LITERALS (round 13: the 1-row cut frame is already
    driver-resolved by the selection path; the old
    ``crossJoin(broadcast(cuts))`` planned a BroadcastNestedLoopJoin
    that broke WholeStageCodegen over the whole map stage) — the data
    side is then map-only: LEAST/GREATEST on doubles, no second
    shuffle, no join. At 100 TB swap the exact cutpoints for
    ``approx_percentile`` if the global sort dominates; the clip stage
    is unchanged."""
    from bearly_spark.operators.aggregate import exact_percentiles

    nn = df.filter(F.col(value_col).isNotNull())
    cuts = exact_percentiles(
        nn, [], value_col, [lo_q, hi_q], names=["_lo", "_hi"], scale=scale
    ).first()
    lo = F.lit(cuts["_lo"] if cuts else None).cast("double")
    hi = F.lit(cuts["_hi"] if cuts else None).cast("double")
    v = F.col(value_col).cast("double")
    clipped = F.least(F.greatest(v, lo), hi)
    return df.select(
        *df.columns,
        F.when(v.isNotNull(), clipped).alias(f"{value_col}_winsorized"),
        F.when(v.isNotNull(), clipped != v).alias("was_clipped"),
    )


def _uniform52(id_col: str) -> "F.Column":
    """Deterministic uniform in [0,1): the first 13 md5 hex chars of the
    id (52 bits — every value EXACTLY representable in a double, so the
    u64→double rounding question never arises) divided by 2^52. The
    engine-independent coin every sampling op here shares; DuckDB
    recomputes it verbatim as
    ``('0x' || substr(md5(id), 1, 13))::UBIGINT / 2^52``."""
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
    return u.cast("long").cast("double") / F.lit(float(1 << 52))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    rate: float = 1.0,
) -> DataFrame:
    """Deterministic WEIGHTED (Poisson) sampling: each row is kept iff
    ``u(id) < min(1, rate·weight)`` with :func:`_uniform52` as the coin
    — the dataset-mixing primitive ("sample documents proportional to
    quality/recency/domain weight") that, unlike ``rand()`` or
    TABLESAMPLE, selects the SAME rows on every run, engine and
    partitioning (reproducible training mixtures, diffable samples).
    Appends ``p_keep`` (6dp). Rows with NULL/negative weight are never
    kept (no weight, no ticket); expected sample mass is
    Σ min(1, rate·wᵢ). Map-only: predicate + hash per row, no shuffle,
    fully pushed past column pruning at any scale.

    ``p_keep`` is the RAW IEEE product, deliberately un-rounded: both
    engines multiply identical doubles so the bits already agree,
    whereas decimal re-rounding is where they diverge (Spark rounds
    the shortest decimal repr via BigDecimal.valueOf — "0.2550435" →
    half-up 0.255044 — while DuckDB rounds the binary value, which
    sits below that midpoint → 0.255043)."""
    w = F.col(weight_col).cast("double")
    # least() IGNORES nulls (least(1.0, NULL) = 1.0), which would turn
    # "no weight" into "always keep" — gate the null through explicitly
    p = F.when(w.isNotNull(), F.least(F.lit(1.0), F.lit(float(rate)) * w))
    return df.withColumn("p_keep", p).filter(_uniform52(id_col) < p)


def cap_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    max_rows: int,
) -> DataFrame:
    """Per-key cap (domain balancing): keep at most ``max_rows`` rows
    per key, chosen DETERMINISTICALLY by the :func:`_uniform52` hash
    order (id tie-break) — "no source may contribute more than N
    documents", the standard guard against one crawl domain dominating
    a training mixture. Hash order (not "first N" in storage order)
    makes the kept subset a uniform-without-replacement draw per key
    that is stable across runs and engines.

    One shuffle on the key + per-partition sort with a rank STOP at
    ``max_rows`` (WindowGroupLimit — Spark prunes each group's sort at
    the cap, so a pathological million-row key costs its top-N scan,
    not a full materialized rank)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(_uniform52(id_col), F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_rows)
        .drop("_rn")
    )


def mixture_resample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    targets: dict[str, float],
    n_target: int,
) -> DataFrame:
    """Resample a corpus to a TARGET DOMAIN MIXTURE (the DoReMi /
    Pile-style weighting step): given per-domain target fractions and a
    total output size, keep ``round_half_up(fraction·n_target)`` rows
    per domain, chosen deterministically by the shared
    :func:`_uniform52` hash order (id tie-break) so the draw is a
    uniform-without-replacement subsample per domain, stable across
    runs and engines. Down-sampling ONLY: a domain with fewer rows than
    its quota contributes everything it has (the shortfall is visible
    as ``n_kept < quota`` downstream; up-weighting means REPEATING data
    — an epoch-schedule decision, deliberately out of scope here).
    Domains absent from ``targets`` are dropped (weight 0). Appends
    ``mix_rank`` (1-based position in the per-domain hash order) so the
    selection is auditable.

    Scale shape: identical to :func:`cap_per_key` — one shuffle on the
    domain + per-partition sort with a rank stop at the quota
    (WindowGroupLimit prunes each domain's sort at its cap), so a
    billion-row web domain costs its top-quota scan, not a full
    materialized rank. Quotas are plan-time literals: no second pass,
    no driver-side counts."""
    from pyspark.sql import Window

    quotas = {
        d: int(math.floor(frac * n_target + 0.5)) for d, frac in targets.items()
    }
    quota = F.create_map(
        *[x for d, q in sorted(quotas.items()) for x in (F.lit(d), F.lit(q))]
    )[F.col(domain_col)]
    w = Window.partitionBy(domain_col).orderBy(_uniform52(id_col), F.col(id_col))
    # two filters on purpose: the LITERAL max-quota bound is what the
    # InferWindowGroupLimit rule matches (per-domain sorts stop at the
    # largest quota instead of fully ranking a billion-row domain); the
    # per-domain map bound then trims to the exact quota
    max_q = max(quotas.values(), default=0)
    return (
        df.withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= F.lit(max_q))
        .filter(F.col("mix_rank") <= F.coalesce(quota, F.lit(0)))
    )


#: The Gopher quality-filter stop set (Rae et al. 2021, "Scaling
#: Language Models: ... Gopher", §A.1.1): a doc must contain ≥ 2 of
#: these to pass the stop-word rule. Shared verbatim with the oracle.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The Gopher quality-filter rule pack (Rae et al. 2021 §A.1.1) as
    one map-only pass: per document, the raw metrics and the combined
    pass/fail the standard web-corpus cleaning pipeline keys on —

    - word count in [50, 100,000];
    - mean word length in [3, 10];
    - symbol-to-word ratio (``#`` chars + non-overlapping ``...``) ≤ 0.1;
    - ≤ 90% of lines starting with a bullet (``-``/``*``/``•``);
    - ≤ 30% of lines ending with an ellipsis;
    - ≥ 80% of words containing an alphabetic character;
    - ≥ 2 distinct members of :data:`GOPHER_STOPWORDS` present.

    Emits the metrics (word/line fractions as RAW IEEE int/int
    quotients — exact in every engine, no rounding needed) plus
    ``passes_gopher``. NULL text coalesces to ``''`` and fails. Zero
    shuffles — a pure scan at 100 TB — and the word-level metrics are
    WHOLE-STRING regex passes (whole-stage codegen), not per-token
    array HOFs: measured on a 256× document blow-up, the HOF forms
    (``aggregate`` for length, per-token ``rlike``, transform+distinct+
    intersect for stop words) cost 4.7s/8.8s/12.4s vs <1s each for the
    string forms with identical counts. The small per-LINE checks stay
    HOFs (line arrays are tiny). The rule set is English-centric by
    construction (the published filter); non-English corpora should
    gate on their own stop lists."""
    df = ensure_parallelism(df)
    txt = F.coalesce(F.col(text_col), F.lit(""))

    # EXPLICIT whitespace class shared with the oracle twin: Java's \s
    # includes vertical tab \x0b while RE2's does not — a document
    # containing \x0b would tokenize differently per engine (ADVICE
    # r8). Both sides use this exact class.
    ws, nws = r"[ \t\n\x0b\f\r]", r"[^ \t\n\x0b\f\r]"

    # Every count below is PURE STRING ARITHMETIC — no array HOFs. One
    # HOF anywhere in a projection drops the WHOLE projection out of
    # whole-stage codegen into interpreted evaluation (measured: the
    # split/filter formulation ran the 256× probe in 107s; this form
    # runs it in a few seconds with identical counts).
    def _word_count(s):
        # tokens are the non-whitespace runs: normalize whitespace runs
        # to single spaces, trim, then count separators
        nrm = F.trim(F.regexp_replace(s, ws + "+", " "))
        return F.when(F.length(nrm) == 0, F.lit(0)).otherwise(
            F.length(nrm) - F.length(F.translate(nrm, " ", "")) + 1
        )

    n_words = _word_count(txt)
    # sum of token lengths == count of non-whitespace chars
    sum_len = F.length(F.regexp_replace(txt, ws, ""))
    # '#' and non-overlapping '...' counts via replace-and-measure (both
    # engines replace left-to-right, non-overlapping — identical counts)
    n_hash = F.length(txt) - F.length(F.regexp_replace(txt, "#", ""))
    n_ellipsis = (
        F.length(txt) - F.length(F.regexp_replace(txt, r"\.\.\.", ""))
    ) / F.lit(3)
    n_lines = F.length(txt) - F.length(F.translate(txt, "\n", "")) + F.lit(1)
    # lines starting with a bullet after a space-only ltrim / ending
    # with an ellipsis before a space-only rtrim: one anchored
    # multiline regex count each (at most one match per line)
    n_bullet = F.regexp_count(txt, F.lit(r"(?m)^ *[-*•]"))
    n_ell_lines = F.regexp_count(txt, F.lit(r"(?m)\.\.\. *$"))
    # words WITHOUT a letter = word-count after deleting every token
    # that contains one (the non-whitespace-run pattern is
    # token-bounded, so the match can never bridge two tokens); alpha
    # count = n_words − that
    n_alpha = n_words - _word_count(
        F.regexp_replace(txt, f"{nws}*[A-Za-z]{nws}*", "")
    )
    # distinct-stopword hits as 8 PLAIN substring checks over the
    # whitespace-normalized, space-padded lowered text — ' w ' in
    # ' tok tok ... ' is an exact-token match, equivalent to
    # intersecting the distinct lowered token set, and substring search
    # beats the (^|\s)w(\s|$) regex form ~20× (measured 55.7s → ~3s)
    padded = F.concat(
        F.lit(" "), F.regexp_replace(F.lower(txt), ws + "+", " "), F.lit(" ")
    )
    n_stop = sum(
        padded.contains(f" {w} ").cast("int") for w in GOPHER_STOPWORDS
    )
    # TWO projection stages on purpose: the count expressions above each
    # embed a tokenize/regex pass, and the ratio + gate expressions
    # below reference them repeatedly — inlined into one select, Spark
    # re-evaluates the non-codegen HOF chains per reference (measured
    # 107s at the 256× probe vs ~4s staged)
    counts = df.select(
        id_col,
        n_words.alias("n_words"),
        sum_len.alias("_sum_len"),
        (n_hash + n_ellipsis).alias("_n_sym"),
        n_lines.alias("_n_lines"),
        n_bullet.alias("_n_bullet"),
        n_ell_lines.alias("_n_ell_lines"),
        n_alpha.alias("_n_alpha"),
        n_stop.alias("n_stop_hits"),
    )
    nw = F.col("n_words")
    ratio = lambda c: F.when(  # noqa: E731 — local plumbing
        nw > 0, F.col(c).cast("double") / nw
    )
    mean_word_len = ratio("_sum_len")
    symbol_ratio = ratio("_n_sym")
    alpha_frac = ratio("_n_alpha")
    bullet_frac = F.col("_n_bullet").cast("double") / F.col("_n_lines")
    ellipsis_frac = F.col("_n_ell_lines").cast("double") / F.col("_n_lines")
    passes = (
        nw.between(50, 100_000)
        & mean_word_len.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (F.col("n_stop_hits") >= 2)
    )
    return counts.select(
        id_col,
        "n_words",
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        "n_stop_hits",
        F.coalesce(passes, F.lit(False)).alias("passes_gopher"),
    )


def c4_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """The C4 cleaning rule pack (Raffel et al. 2020 §2.2) — the
    most-cited baseline web-corpus filter, complementing
    :func:`gopher_rules`' statistical gates with LINE-LEVEL repair:

    - keep only lines ending in a terminal punctuation mark
      (``. ! ? "``) whose word count is ≥ ``min_words`` and that do
      not mention ``javascript`` (boilerplate JS warnings);
    - reassemble the kept lines as ``clean_text``;
    - gate the PAGE on ≥ ``min_sentences`` sentences in the kept text
      (terminal-punctuation count — a documented APPROXIMATION of C4's
      sentence semantics: every ``[.!?]`` occurrence anywhere in the
      kept text counts, so abbreviations/ellipses INSIDE kept lines
      inflate the count relative to a linguistic sentence splitter;
      deterministic and twin-matched, chosen over a splitter because
      no two engines segment sentences identically), no
      ``lorem ipsum``, and no ``{`` (code);

    emitting (id, n_lines, n_kept_lines, clean_text, n_sentences,
    has_lorem_ipsum, has_brace, passes_c4). (The original's bad-words
    list and langdetect steps are the lang-id / stop-list operators'
    jobs — see ``lang_id`` and the curation pack.)

    Determinism: every emitted value is an INT, BOOLEAN or STRING —
    no floats anywhere, so the twin is exact with no quantization
    story at all. Tokenization shares :func:`gopher_rules`' explicit
    whitespace class (Java ``\\s`` ≠ RE2 ``\\s`` on vertical tab);
    CRLF input should be normalized upstream (a trailing ``\\r`` fails
    the terminal-punctuation test identically in both engines).

    Scale shape: map-only pure scan, zero shuffles at any scale. The
    per-line checks are interpreted HOFs (~3ms/doc measured at sf0.1)
    — unlike :func:`gopher_rules`, whose whole-string arithmetic only
    COUNTS, line REMOVAL genuinely needs per-line structure, and a
    multiline-regex-delete form would ride on empty-match advance
    semantics that differ between Java regex and RE2 (the exact
    cross-engine divergence class this codebase eliminates).
    Embarrassingly parallel; the cost is the honest price of a
    full-corpus cleaning pass."""
    df = ensure_parallelism(df)
    ws = r"[ \t\n\x0b\f\r]"
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, r"\n")

    def _keep(line: Column) -> Column:
        words = F.filter(F.split(F.trim(line), ws + "+"), lambda w: w != F.lit(""))
        return (
            F.rtrim(line).rlike(r'[.!?"]$')
            & (F.size(words) >= F.lit(min_words))
            & ~F.lower(line).contains("javascript")
        )

    kept = F.filter(lines, _keep)
    clean = F.array_join(kept, "\n")
    staged = df.select(
        id_col,
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        clean.alias("clean_text"),
        F.regexp_count(clean, F.lit(r"[.!?]")).alias("n_sentences"),
        F.lower(txt).contains("lorem ipsum").alias("has_lorem_ipsum"),
        txt.contains("{").alias("has_brace"),
    )
    return staged.select(
        "*",
        (
            (F.col("n_sentences") >= min_sentences)
            & ~F.col("has_lorem_ipsum")
            & ~F.col("has_brace")
        ).alias("passes_c4"),
    )


def standardize(
    df: DataFrame,
    cols: list[str],
    decimals: int = 6,
    input_scale: int = 2,
) -> DataFrame:
    """Z-score standardization (feature prep): appends ``<col>_z`` =
    ``(x − mean) / std`` per listed column, the sibling of
    :func:`winsorize` in the feature-scaling family. NULL values yield
    NULL z.

    INPUT CONTRACT (the ``rolling_zscore`` pattern): every listed
    column must be exactly representable at ``input_scale`` decimal
    places with fewer than ``18 − input_scale`` integer digits —
    currency/price columns at the default 2. Values are cast to
    ``DECIMAL(18, input_scale)`` before summing, so inputs with MORE
    fractional digits would be silently rounded and the z computed
    against truncated data — widen ``input_scale`` for such columns
    rather than passing raw high-precision doubles through the default.

    Determinism contract: the stats pass sums each column and its
    square as exact DECIMAL — order-independent, so any partitioning/
    engine produces identical sums — then mean and sample variance are
    ONE fixed IEEE tree over those exact scalars: ``m = s/n``,
    ``var = (ss − n·m·m)/(n−1)``. The z itself is map-only.
    Constant columns (var ≤ 0) yield NULL z (no scale, no verdict).

    Plan shape (round 13): the 1-row stats frame is collected (an
    axis-sized ``first()``, the percentile-machinery pattern) and the
    per-column ``(m, 1/std)`` enter the z expressions as LITERALS —
    the old ``crossJoin(broadcast(stats))`` planned a
    BroadcastNestedLoopJoin that knocked the whole map stage out of
    WholeStageCodegen AND re-evaluated the mean/variance/sqrt tree per
    ROW (measured 1.9s -> 1.05s on the sf0.1 bench before the
    layout fix; the arithmetic is the identical IEEE tree, just
    evaluated once on the driver — Python doubles ARE IEEE doubles and
    ``float(Decimal)`` is the same correctly-rounded conversion as the
    JVM's decimal->double cast). Degenerate inputs (n < 2, or sums
    nulled by a decimal(18,scale) overflow, where the JVM's x/0.0 /
    NULL-propagation semantics would need replaying) keep the join
    form.

    EAGER-EVALUATION contract (round 14, ADVICE): the literal path runs
    the stats aggregate at DataFrame-CONSTRUCTION time (``.first()``),
    like :func:`winsorize` and :func:`mad_outliers` — the frozen
    literals reflect the input as of the call, so mutating the
    underlying source between construction and action re-derives
    nothing (the same freshness contract as any collected statistic;
    re-call the function for fresh stats)."""
    dec = f"decimal(18,{int(input_scale)})"
    aggs = []
    for c in cols:
        v = F.col(c).cast(dec)
        aggs += [
            F.count(F.col(c)).alias(f"_n_{c}"),
            F.sum(v).alias(f"_s_{c}"),
            F.sum(v * v).alias(f"_ss_{c}"),
        ]
    stats = df.agg(*aggs)
    keep = list(df.columns)
    row = stats.first()
    # literal fast path guard (r14, ADVICE): beside n >= 2, every sum
    # must be non-NULL — a value overflowing the decimal(18,scale) cast
    # nulls _s/_ss while _n still counts the raw column, and
    # float(None) would raise where the join form emits NULL z. The
    # join fallback replays the old NULL-propagating semantics exactly.
    if row is not None and all(
        row[f"_n_{c}"] >= 2
        and row[f"_s_{c}"] is not None
        and row[f"_ss_{c}"] is not None
        for c in cols
    ):
        zcols = []
        for c in cols:
            n = float(row[f"_n_{c}"])
            m = float(row[f"_s_{c}"]) / n
            var = (float(row[f"_ss_{c}"]) - n * m * m) / (n - 1.0)
            if var > 0:
                z = F.round(
                    (F.col(c).cast("double") - F.lit(m)) / F.lit(var**0.5),
                    decimals,
                )
            else:
                z = F.lit(None).cast("double")
            zcols.append(z.alias(f"{c}_z"))
        return df.select(*keep, *zcols)
    out = df.crossJoin(F.broadcast(stats))
    zcols = []
    for c in cols:
        n = F.col(f"_n_{c}").cast("double")
        m = F.col(f"_s_{c}").cast("double") / n
        var = (F.col(f"_ss_{c}").cast("double") - n * m * m) / (n - F.lit(1.0))
        z = F.round((F.col(c).cast("double") - m) / F.sqrt(var), decimals)
        zcols.append(F.when(var > 0, z).alias(f"{c}_z"))
    return out.select(*keep, *zcols)


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    decimals: int = 6,
    input_scale: int = 2,
) -> DataFrame:
    """Pearson correlation matrix over numeric columns in ONE aggregate
    pass — the EDA/feature-selection primitive. Returns
    (col_a, col_b, n, corr) for each unordered pair (col_a < col_b in
    ``cols`` order). Rows with a NULL in ANY listed column are dropped
    first (listwise deletion — the standard correlation-matrix
    semantics, and the only one where every pair shares one n).

    INPUT CONTRACT (shared with :func:`standardize`): every listed
    column must be exactly representable at ``input_scale`` decimal
    places with fewer than ``18 − input_scale`` integer digits; values
    are cast to ``DECIMAL(18, input_scale)`` before summing, so
    higher-precision inputs would be silently rounded — widen
    ``input_scale`` for such columns.

    Determinism (the :func:`standardize` contract, pairwise-extended):
    Σx, Σx² and every Σxy are exact DECIMAL — order-independent under
    any partitioning — and each r is ONE fixed IEEE tree over those
    scalars: ``r = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²))``.
    Zero-variance columns yield NULL r. The stats land in a 1-row frame;
    the per-pair rows are an array-explode of that single row (driver
    never loops)."""
    dec = f"decimal(18,{int(input_scale)})"
    base = df
    for c in cols:
        base = base.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        v = F.col(c).cast(dec)
        aggs.append(F.sum(v).alias(f"_s_{c}"))
        aggs.append(F.sum(v * v).alias(f"_ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            va = F.col(a).cast(dec)
            vb = F.col(b).cast(dec)
            aggs.append(F.sum(va * vb).alias(f"_sp_{a}_{b}"))
    stats = base.agg(*aggs)

    def _r(a: str, b: str):
        n = F.col("_n").cast("double")
        sa, sb = F.col(f"_s_{a}").cast("double"), F.col(f"_s_{b}").cast("double")
        ssa, ssb = F.col(f"_ss_{a}").cast("double"), F.col(f"_ss_{b}").cast("double")
        sp = F.col(f"_sp_{a}_{b}").cast("double")
        num = n * sp - sa * sb
        da = n * ssa - sa * sa
        db = n * ssb - sb * sb
        r = F.round(num / (F.sqrt(da) * F.sqrt(db)), decimals)
        return F.when((da > 0) & (db > 0), r)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("_n").alias("n"),
                _r(a, b).alias("corr"),
            )
            for i, a in enumerate(cols)
            for b in cols[i + 1 :]
        ]
    )
    return stats.select(F.explode(pairs).alias("p")).select(
        "p.col_a", "p.col_b", "p.n", "p.corr"
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    z_thresh: float = 3.5,
    scale: int | None = None,
) -> DataFrame:
    """Robust outlier detection by the modified z-score
    (Iglewicz–Hoaglin): ``rz = 0.6745·(x − median) / MAD`` with
    MAD = median(|x − median|) — the breakdown-point-0.5 sibling of
    the Tukey IQR fence (``iqr_outlier_report``) and the mean/std
    z-score (``rolling_zscore``): a few extreme values cannot drag the
    center OR the scale. Appends (robust_z 6dp, is_outlier at
    |rz| > ``z_thresh``); NULL values and zero-MAD (≥ half the data
    identical) report NULL; ``robust_z`` is the raw IEEE quotient
    (un-rounded — see the in-code note).

    Two exact-percentile cutpoint passes (distributed selection since
    r9 — the twin-proven quantile_cont values, no single-task sorts,
    4dp) + a map-only score — the same shape as ``winsorize``, one
    extra pass for the deviation median. Round 13: both 1-row scalars
    enter the deviation and score expressions as LITERALS (they are
    already driver-resolved by the selection path; the old chained
    ``crossJoin(broadcast(...))`` pair planned two
    BroadcastNestedLoopJoins that broke WholeStageCodegen over the
    whole scoring stage)."""
    from bearly_spark.operators.aggregate import exact_percentiles

    nn = df.filter(F.col(value_col).isNotNull())
    med_row = exact_percentiles(
        nn, [], value_col, [0.5], names=["_med"], scale=scale
    ).first()
    med = F.lit(med_row["_med"] if med_row else None).cast("double")
    v = F.col(value_col).cast("double")
    dev = nn.select((F.abs(v - med)).alias("_dev"))
    # deviations are 4dp-grained (2dp values minus a 4dp median) — snap
    # at scale 4, not the float default of 2 (twin uses the same scale)
    mad_row = exact_percentiles(
        dev, [], "_dev", [0.5], names=["_mad"], scale=4
    ).first()
    mad = F.lit(mad_row["_mad"] if mad_row else None).cast("double")
    # raw IEEE quotient (the weighted_sample p_keep rule): products and
    # quotients of decimal-derived doubles land on decimal rounding
    # midpoints, where the engines' ROUND implementations diverge
    rz = F.lit(0.6745) * (v - med) / mad
    rz_ok = F.when(v.isNotNull() & (mad > 0), rz)
    return df.select(
        *df.columns,
        rz_ok.alias("robust_z"),
        F.when(rz_ok.isNotNull(), F.abs(rz_ok) > F.lit(z_thresh)).alias(
            "is_outlier"
        ),
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every row, ``k`` pseudo-random OTHER rows drawn by hash —
    (anchor_id, neg_rank j, negative_id) pairs, the uniform-negative
    baseline every contrastive/embedding pipeline starts from (hard
    negatives are the ANN family's job). Draw j for anchor a is the
    corpus row at position ``u52(md5(a:j)) mod N`` in ``id_col`` order,
    bumped one slot (mod N) when it lands on the anchor itself — so
    the sample is reproducible across runs/engines/partitionings,
    collision-free with the anchor, and uniform over the corpus.

    Scale shape: one DISTRIBUTED global 0..N-1 indexing of the corpus
    (``relational.global_row_number`` — range repartition +
    partition-local rank + broadcast offsets since round 9; the prior
    whole-corpus ``row_number`` window was a single-task sort), a ×k
    map-only explode of (anchor, position) probes, and ONE shuffle
    join of probes against the indexed corpus on position."""
    from bearly_spark.operators.relational import global_row_number
    from bearly_spark.operators.sketches import _hash_mod

    n = df.count()
    idx = global_row_number(df.select(F.col(id_col)), [id_col], out_col="_pos")
    indexed = idx.select(F.col(id_col).alias("_nid"), "_pos")
    # anchor position computed BEFORE the explode: a window expression
    # sharing a projection with a generator is resolved AFTER the
    # Generate, i.e. over the exploded rows — which silently breaks the
    # self-collision bump (caught by the oracle: 4/1500 rows)
    base = idx.select(
        F.col(id_col).alias("anchor_id"), F.col("_pos").alias("_apos")
    )
    a = F.col("anchor_id")
    probes = base.select(
        "anchor_id",
        "_apos",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _hash_mod(a, j, n).alias("_rawpos"),
                    )
                    for j in range(1, k + 1)
                ]
            )
        ).alias("p"),
    ).select(
        "anchor_id",
        F.col("p.j").alias("neg_rank"),
        F.when(F.col("p._rawpos") == F.col("_apos"), (F.col("p._rawpos") + 1) % n)
        .otherwise(F.col("p._rawpos"))
        .alias("_pos"),
    )
    return probes.join(indexed, "_pos").select(
        "anchor_id", "neg_rank", F.col("_nid").alias("negative_id")
    )
