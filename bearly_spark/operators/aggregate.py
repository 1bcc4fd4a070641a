"""Aggregation operators.

``sum_int64`` is the reference's flagship operator (O2+O3+O4,
``bearly_ext.cc:26-90``) with its exact semantics; the rest are the grouped
aggregation surface the reference lacks (SURVEY §2.2), expressed as thin
Catalyst-friendly wrappers.
"""

from __future__ import annotations

import functools

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import LongType

from bearly_spark.operators.rounding import floor_round


class NoSummableColumnsError(ValueError):
    """Raised when the input has no int64 columns.

    The reference emits a degenerate 0-column 1-row struct in this case
    (``bearly_ext.cc:44-56`` with ``n_children == 0``). Spark cannot
    represent a 0-column DataFrame, so — per SURVEY §2.1(5) — we pin the
    behavior as an explicit error instead.
    """


def summable_columns(df: DataFrame) -> list[str]:
    """Reference O2: type-gated projection — keep only int64 columns, in
    input-schema order (``bearly_ext.cc:26-40``). int32/double/string are
    dropped, never upcast."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, LongType)]


def sum_int64(df: DataFrame) -> DataFrame:
    """Columnwise SUM over all int64 columns → exactly one row (O3+O4).

    Semantics pinned by the reference golden test
    (``/root/reference/tests/test_bearly.py:23-39``) and SURVEY §2.1:

    1. nulls count as 0 (``value_or(0)``, ``bearly_ext.cc:72``) — an
       all-null column sums to 0, not NULL → ``coalesce(sum(c), 0)``;
    2. empty input yields one row of zeros, never zero rows (accumulators
       init to 0, ``bearly_ext.cc:35,83-88``) — Spark's global agg also
       emits exactly one row;
    3. only int64 columns participate (see :func:`summable_columns`);
    4. output preserves input column order and names;
    5. no int64 columns → :class:`NoSummableColumnsError` (see its doc);
    6. int64 overflow wraps (non-ANSI mode), matching C++ ``int64_t``.

    Execution: Tungsten partial+final HashAggregate — the distributed
    generalization of the reference's chunk-at-a-time partial-sum loop
    (``bearly_ext.cc:59-76``). No shuffle of row data: each partition
    emits one partial row, the final agg merges ~num_partitions rows.
    """
    cols = summable_columns(df)
    if not cols:
        raise NoSummableColumnsError(
            "input has no int64 columns; the reference would return a "
            "0-column 1-row struct, which Spark cannot represent"
        )
    return df.agg(*[F.coalesce(F.sum(c), F.lit(0).cast("long")).alias(c) for c in cols])


def grouped_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    mode: str = "groupby",
) -> DataFrame:
    """Grouped aggregation with optional grouping-set expansion.

    ``mode``: ``groupby`` | ``rollup`` | ``cube``.  All three map to a
    single shuffle on the grouping keys with map-side partial aggregation;
    rollup/cube expand grouping sets before the shuffle (Catalyst `Expand`).
    """
    if mode == "groupby":
        grouped = df.groupBy(*keys)
    elif mode == "rollup":
        grouped = df.rollup(*keys)
    elif mode == "cube":
        grouped = df.cube(*keys)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return grouped.agg(*aggs)


def exact_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
    names: Sequence[str] | None = None,
    decimals: int = 4,
    scale: int | None = None,
) -> DataFrame:
    """Exact linear-interpolation percentiles per group (the quantile_cont
    definition) via a rank window instead of ``F.percentile``.

    ``F.percentile`` buffers every group value in the aggregation buffer —
    O(group size) driver-of-OOM memory and no spill. This form does ONE
    shuffle+external-sort per group (Tungsten window sort, spills to disk),
    then picks the two straddling ranks per quantile and interpolates:
    h = (n-1)*q; p = v[floor(h)] + (h - floor(h)) * (v[ceil(h)] - v[floor(h)]).

    Parallelism is bounded by group cardinality (inherent to exact
    per-group quantiles); at 100 TB with few groups prefer
    ``approx_percentile`` (t-digest, mergeable partial aggregates).

    NULLs in ``value_col`` are EXCLUDED before ranking — the
    quantile_cont contract (DuckDB/ANSI aggregate null semantics).
    Without the filter, nulls-first ordering would occupy the lowest
    ranks and shift or NULL every quantile (review catch, round 6).
    One documented deviation: a group whose values are ALL null is
    absent from the output (quantile_cont would keep the group with a
    NULL quantile); no fixture column hits this.

    Determinism (round 8): NO IEEE arithmetic touches the emitted
    value. Interpolated quantiles of 2dp prices land EXACTLY on 4dp
    midpoints ((a+b)/2 with a, b one cent apart), where plain ROUND
    and the floor form alike are engine/build-defined (the round-7
    driver failure class). So each quantile ``q = a/b`` (an exact
    small fraction) selects its straddling order statistics by exact
    integer index ``lo = ((n−1)·a) div b, r = ((n−1)·a) mod b``, the
    interpolated value is the exact rational
    ``(lo_val·(b−r) + hi_val·r) / (b·10^v)`` over ``10^v``-scaled
    integer values (v = the column's decimal scale), and the
    ``decimals``-dp emission is ``rounding.rational_round`` — integral
    division, then one IEEE division of the same exact integer in
    every engine. The oracle twin replays the identical index/
    interpolation arithmetic (``_shared.quantile_cuts_sql``) instead
    of ``quantile_cont``.

    Plan shape (round 9): the GLOBAL form (``group_cols == []``) no
    longer runs the rank window — ``Window.partitionBy()`` puts the
    whole table in ONE task (``Exchange SinglePartition`` + whole-table
    sort, a serialization point at 100 TB). Instead it runs distributed
    exact order-statistic selection (:func:`_global_order_statistics`):
    a fully-parallel t-digest/GK bracket pass (``percentile_approx``,
    mergeable partial aggregates) brackets each target rank, one
    parallel counting pass verifies the bracket ranks exactly, and the
    few candidate values inside the brackets are resolved to the exact
    integer rank indices ``((n−1)a) div b`` driver-side. Every pass is
    a scan + partial aggregate — no single-task sort anywhere — and the
    ANSWER is bit-identical to the window form (same order statistics,
    same rational interpolation, same emission). The grouped form
    routes any group count up to 4× cluster parallelism through the
    same shared selection passes (:func:`_few_group_order_statistics`,
    round 10 — previously only ≤ 8 groups); past that the rank window's
    per-group parallelism is ≥ the cluster width and it wins.
    """
    from fractions import Fraction

    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    from bearly_spark.operators.rounding import rational_round

    df = df.filter(F.col(value_col).isNotNull())
    names = list(names or [f"p{int(q * 100)}" for q in quantiles])
    in_type = df.schema[value_col].dataType
    # Scaling: the order statistics become exact 10^scale-scaled
    # integers. DECIMAL columns use their own scale; integral columns
    # 0; float/double columns snap to `scale` dp (default 2 — the
    # fixtures' price columns are 2dp values stored as doubles; pass
    # `scale` explicitly for finer-grained float data). The twin must
    # use the SAME scale (``quantile_cuts_sql(..., scale=...)``).
    if scale is not None:
        v = scale
    elif isinstance(in_type, DecimalType):
        v = in_type.scale
    elif isinstance(in_type, (DoubleType, FloatType)):
        import warnings

        warnings.warn(
            f"exact_percentiles({value_col!r}): float/double input with no "
            "explicit scale= quantizes values to 2dp before interpolation "
            "(right for the 2dp-price fixtures; pass scale= for "
            "finer-grained data — the twin must use the same scale)",
            stacklevel=2,
        )
        v = 2
    else:
        v = 0
    sval = (F.col(value_col).cast(f"decimal(38,{v})") * F.lit(10**v)).cast(
        "decimal(38,0)"
    )
    fracs = [Fraction(q).limit_denominator(10**6) for q in quantiles]
    if not group_cols:
        res = _global_order_statistics(
            df.select(sval.alias("_sv")), fracs, names, v, decimals
        )
        if res is not None:
            return res
        # bracket-miss fallback (pathological sketch failure): the
        # window form below is always correct, just single-partition.
    else:
        # FEW-group inputs have the same single-task-sort problem as the
        # global form (3 groups = 3 whole-group sorts at any scale, the
        # rank window's parallelism IS the group count) — route them
        # through the distributed selection per group. Many-group inputs
        # keep the window form, whose parallelism is then plentiful.
        res = _few_group_order_statistics(
            df, list(group_cols), sval, fracs, names, v, decimals
        )
        if res is not None:
            return res
    w = Window.partitionBy(*group_cols).orderBy(F.col("_sv").asc())
    wn = Window.partitionBy(*group_cols)
    ranked = df.select(*group_cols, sval.alias("_sv")).withColumn(
        "_rn", F.row_number().over(w) - F.lit(1)
    ).withColumn("_n", F.count(F.lit(1)).over(wn))

    aggs = []
    for fr, name in zip(fracs, names):
        a, b = fr.numerator, fr.denominator
        num = (F.col("_n") - 1).cast("long") * F.lit(a)
        lo_idx = F.call_function("div", num, F.lit(b).cast("long"))
        hi_idx = lo_idx + F.when(num % b > 0, F.lit(1)).otherwise(F.lit(0))
        aggs += [
            F.max(F.when(F.col("_rn") == lo_idx, F.col("_sv"))).alias(f"_lo_{name}"),
            F.max(F.when(F.col("_rn") == hi_idx, F.col("_sv"))).alias(f"_hi_{name}"),
        ]
    agged = ranked.groupBy(*group_cols).agg(F.max("_n").alias("_n"), *aggs)

    out_cols = list(group_cols)
    for fr, name in zip(fracs, names):
        a, b = fr.numerator, fr.denominator
        r = ((F.col("_n") - 1).cast("long") * F.lit(a)) % b
        val_num = F.col(f"_lo_{name}") * (F.lit(b) - r) + F.col(f"_hi_{name}") * r
        out_cols.append(
            rational_round(val_num, F.lit(b * 10**v), decimals).alias(name)
        )
    return agged.select(*out_cols)


def _dec38(x: int) -> Column:
    """A DECIMAL(38,0) literal from an arbitrary-size Python int
    (``F.lit`` infers LongType and overflows past 2^63)."""
    return F.expr(f"CAST('{int(x)}' AS DECIMAL(38,0))")


def _resolve_candidates(
    rows: Sequence[tuple],
    brackets: list[tuple[int, int]],
    targets: list[tuple[int, int]],
) -> tuple[bool, list[tuple[int, int]] | None]:
    """Driver-side core of the distributed selection: from one combined
    pass's (candidate-value | gap-id, count) rows, reconstruct the exact
    endpoint ranks ``L_i = #{x < lo_i}`` / ``U_i = #{x ≤ hi_i}`` (gap id
    g means "g bracket boundaries lie strictly below x"; a non-candidate
    never equals a boundary, so ``x < va ⟺ g ≤ #{boundaries < va}``),
    verify every target rank is inside its bracket, and walk the sorted
    candidates to the target order statistics. Returns (verified,
    resolved (lo_val, hi_val) pairs or None)."""
    gap_counts: dict[int, int] = {}
    cand_sorted: list[tuple[int, int]] = []
    for kv, kg, c in rows:
        if kv is not None:
            cand_sorted.append((int(kv), c))
        else:
            gap_counts[kg] = gap_counts.get(kg, 0) + c
    cand_sorted.sort()
    bounds = [b for br in brackets for b in br]

    def _rank_of(boundary: int) -> int:
        pos = sum(1 for b in bounds if b < boundary)
        return sum(c for g, c in gap_counts.items() if g <= pos) + sum(
            c for val, c in cand_sorted if val < boundary
        )

    L = [_rank_of(va) for va, _ in brackets]
    U = [
        L[i] + sum(c for val, c in cand_sorted if brackets[i][0] <= val <= brackets[i][1])
        for i in range(len(brackets))
    ]
    if not all(L[i] <= lo and hi <= U[i] - 1 for i, (lo, hi) in enumerate(targets)):
        return False, None

    def _value_at(rank: int, va: int, base: int) -> int | None:
        cum = base
        for val, c in cand_sorted:
            if val < va:
                continue
            if rank < cum + c:
                return val
            cum += c
        return None

    resolved: list[tuple[int, int]] = []
    for i, (lo, hi) in enumerate(targets):
        lv = _value_at(lo, brackets[i][0], L[i])
        hv = _value_at(hi, brackets[i][0], L[i])
        if lv is None or hv is None:
            return True, None
        resolved.append((lv, hv))
    return True, resolved


def _rational_round_py(num: int, den: int, digits: int) -> float:
    """Python twin of ``rounding.rational_round`` over exact ints — the
    identical half-up quantization (truncating integral division, like
    Spark ``div`` / DuckDB ``//``) and the identical single IEEE
    division, so a driver-resolved order statistic emits bit-for-bit
    the value the Column form would."""
    a, b = 2 * 10**digits * num + den, 2 * den
    q = abs(a) // abs(b)
    micro = q if (a >= 0) == (b > 0) else -q
    return float(micro) / float(10**digits)


def _approx_bracket_pcts(fracs: Sequence, acc: int) -> list[float]:
    """The initial sketch percentages: each target quantile widened by
    ±5/accuracy (≥ 4·n/accuracy ranks of slack over GK's guarantee)."""
    pcts: list[float] = []
    for fr in fracs:
        q = float(fr)
        pcts += [max(0.0, q - 5.0 / acc), min(1.0, q + 5.0 / acc)]
    return pcts


def _global_order_statistics(
    sv: DataFrame,
    fracs: Sequence,
    names: Sequence[str],
    v: int,
    decimals: int,
    head: tuple[int, list[tuple[int, int]]] | None = None,
) -> DataFrame | None:
    """Distributed exact selection of the global order statistics that
    :func:`exact_percentiles` needs for ``group_cols == []`` — the same
    answer as a whole-table rank window WITHOUT its
    ``Exchange SinglePartition`` single-task sort.

    ``sv`` is a one-column frame of non-null ``10^v``-scaled
    DECIMAL(38,0) values. For each quantile ``a/b`` the target ranks
    are the exact integer indices ``lo = ((n−1)a) div b`` and
    ``hi = lo + (1 if (n−1)a mod b else 0)``. Passes, all fully
    parallel (scan + mergeable partial aggregate, no global sort):

    1. ONE aggregate: ``n`` + ``percentile_approx`` at
       ``q ∓ 5/accuracy`` — Spark's Greenwald-Khanna summary guarantees
       rank error ≤ n/accuracy and returns ACTUAL dataset elements, so
       the returned pair brackets the target ranks with ≥ 4n/accuracy
       slack. (At SMALL n that quantile slack is under one rank and the
       sketch's element-pick convention can miss by one — so a failed
       verification first retries with RANK-aware offsets
       ``(idx ∓ max(3, 5n/acc))/(n−1)`` before giving up.)
    2. ONE combined aggregate gathers candidates AND exact ranks:
       candidate values inside the brackets keep their identity as
       DISTINCT values + counts (ties collapse, so a duplicate-heavy
       plateau is ONE row) while every non-candidate collapses into
       one of ≤ 2·nq+1 GAP groups keyed by how many bracket boundaries
       lie strictly below it — the exact endpoint ranks
       ``L_i = count(x < lo_i)`` / ``U_i = count(x ≤ hi_i)``
       reconstruct driver-side from gap + candidate counts, verifying
       the sketch's guarantee instead of trusting it (a repeated miss
       → None → caller falls back to the always-correct window form),
       and the target ranks resolve from the candidate walk. Expected
       candidate rows ≈ 10·n/accuracy per quantile; when distinct
       candidates exceed the collect cap (huge n with dense distinct
       values), each bracket is NARROWED by re-running the sketch on
       the bracket's rows only (rank error now relative to the bracket
       size → ×accuracy/10 shrink per round, log_accuracy(n) rounds,
       each a parallel filtered scan).

    Scale shape: the common case is TWO parallel scans (head +
    combined pass); 100 TB ≈ 10^12 rows needs 1 narrowing round at
    accuracy 10^4 to bring candidates under the 10^5 cap — ~5 parallel
    scans, zero single-task stages, O(10^5) driver bytes.
    """
    ACC = 10_000
    CAP = 100_000
    targets: list[tuple[int, int]] = []

    if head is None:
        row = sv.agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx("_sv", _approx_bracket_pcts(fracs, ACC), ACC).alias(
                "p"
            ),
        ).first()
        n = row["n"]
        brackets = (
            []
            if n == 0
            else [
                (int(row["p"][2 * i]), int(row["p"][2 * i + 1]))
                for i in range(len(fracs))
            ]
        )
    else:
        n, brackets = head
    if n == 0:
        # mirror the window form: groupBy() over empty input still
        # yields one all-NULL row
        return sv.sparkSession.range(1).select(
            *[F.lit(None).cast("double").alias(name) for name in names]
        )
    for fr in fracs:
        a, b = fr.numerator, fr.denominator
        num = (n - 1) * a
        lo_idx, r = divmod(num, b)
        targets.append((lo_idx, lo_idx + (1 if r else 0)))

    def _rank_aware_brackets() -> list[tuple[int, int]]:
        eps = max(3, -(-5 * n // ACC))  # ceil
        pcts2: list[float] = []
        denom = max(n - 1, 1)
        for lo, hi in targets:
            pcts2 += [
                max(0.0, (lo - eps) / denom),
                min(1.0, (hi + eps) / denom),
            ]
        p2 = sv.agg(F.percentile_approx("_sv", pcts2, ACC).alias("p")).first()["p"]
        return [(int(p2[2 * i]), int(p2[2 * i + 1])) for i in range(len(fracs))]

    def _rank_bounds(brs: list[tuple[int, int]]) -> tuple[list[int], list[int]]:
        rank_aggs: list[Column] = []
        for i, (va, vb) in enumerate(brs):
            rank_aggs.append(
                F.sum(F.when(F.col("_sv") < _dec38(va), 1).otherwise(0))
                .cast("long")
                .alias(f"L{i}")
            )
            rank_aggs.append(
                F.sum(F.when(F.col("_sv") <= _dec38(vb), 1).otherwise(0))
                .cast("long")
                .alias(f"U{i}")
            )
        ranks = sv.agg(*rank_aggs).first()
        return (
            [ranks[f"L{i}"] for i in range(len(brs))],
            [ranks[f"U{i}"] for i in range(len(brs))],
        )

    nq = len(fracs)
    resolved: list[tuple[int, int]] | None = None
    retried = False
    for _ in range(5):
        # ONE combined pass: candidate rows keep their value identity;
        # every NON-candidate collapses into one of ≤ 2·nq+1 GAP groups
        # keyed by how many bracket boundaries lie strictly below it.
        # A non-candidate x never equals a boundary (boundaries are
        # inside brackets), so x < va_i ⟺ gap(x) ≤ #{boundaries < va_i}
        # — the exact endpoint ranks L_i/U_i reconstruct from gap
        # counts + candidate counts, letting rank verification and
        # candidate gathering share a single aggregate job.
        bounds: list[int] = []
        for va, vb in brackets:
            bounds += [va, vb]
        in_any = functools.reduce(
            lambda acc, br: acc
            | ((F.col("_sv") >= _dec38(br[0])) & (F.col("_sv") <= _dec38(br[1]))),
            brackets[1:],
            (F.col("_sv") >= _dec38(brackets[0][0]))
            & (F.col("_sv") <= _dec38(brackets[0][1])),
        )
        below_cnt = functools.reduce(
            lambda acc, b: acc + F.when(F.col("_sv") > _dec38(b), 1).otherwise(0),
            bounds,
            F.lit(0),
        )
        grouped = (
            sv.select(
                F.when(in_any, F.col("_sv")).alias("_kv"),
                F.when(in_any, F.lit(None)).otherwise(below_cnt).alias("_kg"),
            )
            .groupBy("_kv", "_kg")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        limit = CAP + 2 * nq + 2
        rows = grouped.take(limit)
        if len(rows) >= limit:
            # truncated: too many distinct candidates — get the exact
            # endpoint ranks separately, then narrow each bracket by
            # re-sketching INSIDE it (rank error now relative to size)
            L, U = _rank_bounds(brackets)
            if not all(
                L[i] <= lo and hi <= U[i] - 1 for i, (lo, hi) in enumerate(targets)
            ):
                if retried:
                    return None
                retried = True
                brackets = _rank_aware_brackets()
                continue
            new_brackets = []
            for i, (va, vb) in enumerate(brackets):
                m = U[i] - L[i]
                sub = sv.filter(
                    (F.col("_sv") >= _dec38(va)) & (F.col("_sv") <= _dec38(vb))
                )
                lo_loc, hi_loc = targets[i][0] - L[i], targets[i][1] - L[i]
                denom = max(m - 1, 1)
                p_lo = max(0.0, lo_loc / denom - 5.0 / ACC)
                p_hi = min(1.0, hi_loc / denom + 5.0 / ACC)
                sub_p = sub.agg(
                    F.percentile_approx("_sv", [p_lo, p_hi], ACC).alias("p")
                ).first()["p"]
                new_brackets.append((int(sub_p[0]), int(sub_p[1])))
            brackets = new_brackets
            continue
        ok, res = _resolve_candidates(
            [(row["_kv"], row["_kg"], row["c"]) for row in rows], brackets, targets
        )
        if not ok:
            if retried:
                return None  # repeated miss: window-form fallback
            retried = True
            brackets = _rank_aware_brackets()
            continue
        resolved = res
        break
    if resolved is None:
        return None

    from bearly_spark.operators.rounding import rational_round

    out_cols = []
    for fr, name, (lo_val, hi_val) in zip(fracs, names, resolved):
        a, b = fr.numerator, fr.denominator
        r = ((n - 1) * a) % b
        val_num = _dec38(lo_val) * F.lit(b - r) + _dec38(hi_val) * F.lit(r)
        out_cols.append(rational_round(val_num, F.lit(b * 10**v), decimals).alias(name))
    return sv.sparkSession.range(1).select(*out_cols)


#: Below this many rows per group (on average) the grouped selection
#: path yields to the rank-window form (round-11 size gate; see
#: _few_group_order_statistics). Measured crossover on local[32] with
#: 3 groups (PLANS.md "Grouped-percentile size gate" sweep):
#: window wins 1.07s vs 1.75s at 125k rows/group, selection wins
#: 1.95s vs 2.96s at 500k and 13.4s vs 57.2s at 8M — the cutoff sits
#: between, and routing a borderline input to selection only costs
#: constants while routing a huge group to the window form costs an
#: unbounded single-task sort, so the gate leans low.
WINDOW_FORM_MAX_GROUP_ROWS = 250_000


def _few_group_order_statistics(
    df: DataFrame,
    group_cols: list[str],
    sval: Column,
    fracs: Sequence,
    names: Sequence[str],
    v: int,
    decimals: int,
    max_groups: int | None = None,
) -> DataFrame | None:
    """Distributed exact selection for GROUPED percentiles when the
    group count is small — the regime where the rank-window form is a
    scale-killer (its parallelism IS the group cardinality: 3 groups =
    3 single-task whole-group sorts no matter how large the table).
    Each group runs the verified :func:`_global_order_statistics` passes
    over its filtered slice (all fully parallel scans + mergeable
    aggregates), and the per-group 1-row results assemble into one
    literal frame with the window form's exact schema and values.

    Returns None (→ window form) when there are more than
    ``max_groups`` groups — parallelism is then plentiful and the
    shared passes' driver-side resolution would stop amortizing.
    ``max_groups`` defaults to **4× the cluster default parallelism**
    (round 10 — the r9 cutoff of 8 left the 9–~200-group regime on
    one-task-per-group sorts: 12 language groups over 100 TB would run
    12 single tasks of ~8 TB each; any group count below a few× the
    core count is exactly where the shared selection passes beat
    group-count-parallel sorts). Past the cutoff the window form's
    parallelism IS the group count, which is then ≥ the cluster width.

    Cost: one CHEAP cardinality probe (``approx_count_distinct`` over
    the group key — no per-group state, skips the sketch pass entirely
    for high-cardinality callers like per-key percentiles over millions
    of keys) + TWO shared parallel scans for all groups together — one
    head pass (group discovery + per-group counts and sketch brackets
    in a single groupBy aggregate) and one combined candidate/rank pass
    (the per-group bracket bounds join in as a broadcast ≤
    max_groups-row frame, so the gap/candidate keying evaluates against
    each row's OWN group's brackets) — plus per-group driver
    resolution. A group whose sketch misses re-runs alone through
    :func:`_global_order_statistics` on its filtered slice, which
    carries the rank-aware retry and the narrowing loop; only a
    repeated miss there falls back to the window form. A truncated
    combined pass (total candidates past CAP) re-runs per group only
    under ≤ 8 groups, else returns None — re-running hundreds of
    groups serially would be worse than the window form it avoids.
    """
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    ACC = 10_000
    CAP = 100_000
    nq = len(fracs)
    if max_groups is None:
        max_groups = 4 * df.sparkSession.sparkContext.defaultParallelism
    sv_g = df.select(*group_cols, sval.alias("_sv"))
    # cheap cardinality gate (ADVICE r9): HLL estimate of the group-key
    # cardinality before paying the per-group sketch head pass. 5% rsd
    # with a 1.2 safety factor — an under-estimate that still exceeds
    # the cutoff is caught exactly by the head pass's take() below.
    # The total row count rides in the SAME probe scan (free) to feed
    # the small-group gate below.
    gkey = (
        F.col(group_cols[0])  # struct-wrapping a 1-col key doubles HLL cost
        if len(group_cols) == 1
        else F.struct(*group_cols)
    )
    # approx_count_distinct over the bare 1-col fast path skips NULL
    # keys (a struct key would not), but groupBy keeps a NULL group —
    # a has-null flag rides the same scan for free and adds it back,
    # so both gates see the true group count (r11 ADVICE).
    probe = sv_g.agg(
        F.approx_count_distinct(gkey, rsd=0.05).alias("c"),
        F.count(F.lit(1)).alias("n"),
        F.max(gkey.isNull()).alias("has_null_key"),
    ).first()
    est = probe["c"] + (1 if probe["has_null_key"] else 0)
    if est > 1.2 * max_groups:
        return None
    # Small-group gate (round 11, verdict #5): when the AVERAGE group
    # holds under ~half a million rows, a one-task-per-group window
    # sort is a sub-second operation and the selection machinery's 2-3
    # extra fixed-cost passes are pure constant loss (measured 2.7x on
    # the 3-group sf0.1 percentiles — PLANS.md "Round-10 probe" has
    # selection at 0.75x the window form until ~8M rows/group).
    # Past the threshold the window form's single-task sorts grow
    # without bound while selection stays scan-shaped — the 100x-scale
    # regime this path exists for. Values are identical either way
    # (pinned by tests), so the gate trades only constants.
    if probe["n"] <= WINDOW_FORM_MAX_GROUP_ROWS * max(est, 1):
        return None
    heads = (
        sv_g.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx("_sv", _approx_bracket_pcts(fracs, ACC), ACC).alias(
                "_p"
            ),
        )
        .take(max_groups + 1)
    )
    if len(heads) > max_groups:
        return None

    def group_key(row) -> tuple:
        return tuple(row[c] for c in group_cols)

    def group_cond(grow):
        cond = None
        for c in group_cols:
            val = grow[c]
            c_cond = F.col(c).isNull() if val is None else (F.col(c) == F.lit(val))
            cond = c_cond if cond is None else (cond & c_cond)
        return cond

    g_brackets = {
        group_key(grow): [
            (int(grow["_p"][2 * i]), int(grow["_p"][2 * i + 1]))
            for i in range(nq)
        ]
        for grow in heads
    }
    g_targets = {}
    for grow in heads:
        n_g = grow["_n"]
        tg = []
        for fr in fracs:
            a, b = fr.numerator, fr.denominator
            lo_idx, r = divmod((n_g - 1) * a, b)
            tg.append((lo_idx, lo_idx + (1 if r else 0)))
        g_targets[group_key(grow)] = tg

    # shared combined pass: the per-group bracket bounds ride in as a
    # broadcast frame so one scan serves every group
    bcols = [f"_b{j}" for j in range(2 * nq)]
    brows = [
        group_key(grow) + tuple(str(b) for br in g_brackets[group_key(grow)] for b in br)
        for grow in heads
    ]
    bschema = StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(b, StringType()) for b in bcols]
    )
    bf = df.sparkSession.createDataFrame(brows, bschema).select(
        *group_cols,
        *[F.col(b).cast("decimal(38,0)").alias(b) for b in bcols],
    )
    in_any = functools.reduce(
        lambda acc, i: acc
        | (
            (F.col("_sv") >= F.col(f"_b{2 * i}"))
            & (F.col("_sv") <= F.col(f"_b{2 * i + 1}"))
        ),
        range(1, nq),
        (F.col("_sv") >= F.col("_b0")) & (F.col("_sv") <= F.col("_b1")),
    )
    below_cnt = functools.reduce(
        lambda acc, b: acc + F.when(F.col("_sv") > F.col(b), 1).otherwise(0),
        bcols,
        F.lit(0),
    )
    grouped = (
        sv_g.join(F.broadcast(bf), group_cols)
        .select(
            *group_cols,
            F.when(in_any, F.col("_sv")).alias("_kv"),
            F.when(in_any, F.lit(None)).otherwise(below_cnt).alias("_kg"),
        )
        .groupBy(*group_cols, "_kv", "_kg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    limit = CAP + len(heads) * (2 * nq + 2) + 2
    rows = grouped.take(limit)
    by_group: dict[tuple, list[tuple]] = {}
    truncated = len(rows) >= limit
    if truncated and len(heads) > 8:
        # past-CAP candidate volume with many groups: the per-group
        # sequential re-run below would be len(heads) driver-looped
        # jobs — worse than the window form, whose parallelism equals
        # the (here plentiful) group count
        return None
    if not truncated:
        for row in rows:
            by_group.setdefault(group_key(row), []).append(
                (row["_kv"], row["_kg"], row["c"])
            )

    out_rows = []
    for grow in heads:
        key = group_key(grow)
        resolved = None
        if not truncated:
            ok, resolved = _resolve_candidates(
                by_group.get(key, []), g_brackets[key], g_targets[key]
            )
        if resolved is not None:
            vals = []
            for (lo_val, hi_val), fr in zip(resolved, fracs):
                a, b = fr.numerator, fr.denominator
                r = ((grow["_n"] - 1) * a) % b
                vals.append(
                    _rational_round_py(
                        lo_val * (b - r) + hi_val * r, b * 10**v, decimals
                    )
                )
            out_rows.append(key + tuple(vals))
            continue
        # miss or truncation: this group alone re-runs the full selection
        # (fresh head → rank-aware retry → narrowing) on its slice
        res = _global_order_statistics(
            sv_g.filter(group_cond(grow)).select("_sv"), fracs, names, v, decimals
        )
        if res is None:
            return None
        row = res.first()
        out_rows.append(key + tuple(row[n] for n in names))
    schema = StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(n, DoubleType()) for n in names]
    )
    # deterministic order not required (callers sort / the gate is
    # order-insensitive), but keep group discovery order for stability
    return df.sparkSession.createDataFrame(out_rows, schema)


def bucket_assign(value: Column, cut_names: Sequence[str]) -> Column:
    """THE cutpoint-bucket rule shared by the equi-depth histogram, the
    drift report and RFM scoring: ``1 + #(cutpoints < value)`` — ties
    stick to the lower bucket. One definition so the rounding/tie
    contract can never silently diverge between the operators that
    promise identical bucketing across engines. ``value`` must be
    non-null (callers filter or guarantee it; a NULL value would
    silently land in bucket 1)."""
    return functools.reduce(
        lambda acc, n: acc + F.when(value > F.col(n), 1).otherwise(0),
        cut_names,
        F.lit(1),
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    buckets: int = 8,
    decimals: int = 4,
    scale: int | None = None,
) -> DataFrame:
    """Equi-DEPTH (quantile-bucket) histogram — the distribution profile
    dual of the equi-width form (``histogram_prices_orders``): bucket
    boundaries are the exact k/B quantiles, so every bucket holds
    ~1/B of the rows regardless of skew (an equi-width histogram of a
    heavy-tailed column puts 99% of rows in bucket 1; this one never
    does). The optimizer-statistics / data-profiling primitive.

    Cutpoints come from :func:`exact_percentiles` (spill-safe rank
    window, quantile_cont definition — already twin-proven), rounded to
    ``decimals`` BEFORE assignment so both engines compare against
    bit-identical boundaries; a row lands in bucket
    ``1 + #(cutpoints < value)`` (ties stick to the lower bucket, so
    heavy duplicate values keep one bucket — depth is then approximate
    under ties, which is inherent to any deterministic rule).

    Scale shape: one rank-window pass for the B-1 cutpoints, then the
    1-row cutpoint frame broadcast-crossJoins the scan and the
    assignment is a map-only expression into a B-row groupBy — the
    same two-pass shape as the equi-width form, dominated by the
    quantile sort (at 100 TB swap in approx_percentile cutpoints, same
    assignment logic).

    NULL values are EXCLUDED (consistent with the cutpoints, which
    quantile_cont derives over non-null values only; without the
    filter every NULL row would silently land in bucket 1 — review
    catch, round 6).
    """
    qs = [k / buckets for k in range(1, buckets)]
    names = [f"_c{k}" for k in range(1, buckets)]
    df = df.filter(F.col(value_col).isNotNull())
    cuts = exact_percentiles(
        df, [], value_col, qs, names=names, decimals=decimals, scale=scale
    )
    v = F.col(value_col)
    bucket = bucket_assign(v, names).alias("bucket")
    return (
        df.crossJoin(F.broadcast(cuts))
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(v), 2).alias("min_v"),
            F.round(F.max(v), 2).alias("max_v"),
        )
    )
