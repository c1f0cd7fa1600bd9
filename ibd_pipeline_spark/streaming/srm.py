"""Streaming sample-ratio-mismatch (SRM) monitor: live arm-traffic
counters over the experiment hash split, scored read-side with a
chi-square goodness-of-fit against the intended allocation.

Like the drift monitor (drift.py) and the burstiness monitor
(burstiness.py), this is an UNBOUNDED streaming aggregation made safe
by a bounded key space: the group key is the ARM INDEX (md5 hash
split, the same engine-portable rule the batch experimentation kit
uses — ab_srm_check, ab_msprt_always_valid), so the state store holds
at most `arms` rows forever. The chi-square score and alarm are
computed read-side per readout, keeping streaming state pure counts.

Batch vs live distinction (deliberate): the batch audit
(`ab_srm_check`) tests UNIT-level allocation (one row per user);
this monitor tests TRAFFIC-level allocation (one increment per
event), because distinct-user streaming state is unbounded while
event counters are 2 rows. A broken bucketing function, a crashed
variant server, or a filter that eats one arm's traffic shows up in
BOTH; the live form catches it within one trigger instead of at the
nightly audit.

Reference parity note: the reference pipeline has no allocation
monitoring of any kind; this is part of the experimentation belt the
north star requires.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ibd_pipeline_spark.normal_tail import _phi_tail_col

def arm_index(user_col: str = "user_id", arms: int = 2, seed: str = "11"):
    """Engine-portable experiment arm: first 8 md5 hex digits of
    'seed:user' mod arms — identical to the batch kit's split, so the
    live monitor and the nightly audit see the same allocation."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(seed), F.col(user_col))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % arms
    ).cast("int")


def arm_traffic(
    events: DataFrame,
    user_col: str = "user_id",
    arms: int = 2,
    seed: str = "11",
) -> DataFrame:
    """Streaming (or batch — same expression) per-arm traffic counter:
    (arm, n) with at most `arms` state rows. outputMode 'complete'
    re-emits the tiny counter table each trigger."""
    return events.groupBy(
        arm_index(user_col, arms, seed).alias("arm")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


def srm_report(
    counts: DataFrame,
    ratios: "list[float] | None" = None,
    alarm_p: float = 0.001,
) -> DataFrame:
    """Read-side SRM score over a (arm, n) counter table: chi-square
    goodness-of-fit against the intended allocation `ratios` (default
    uniform), two-sided p via the 1-df identity P(X² > x) = 2·Φ̄(√x),
    and the alarm at the industry-standard strict threshold
    (p < 0.001 — SRM tests run continuously, so the alarm bar is high
    to keep the false-positive budget sane).

    A MISSING arm (zero traffic ever) simply doesn't appear in the
    streamed counter; the spine join restores it as an explicit zero
    so a dead variant server alarms instead of vanishing (the drift
    monitor's empty-histogram lesson, ADVICE r9).

    Two arms only: the p identity P(X² > x) = 2·Φ̄(√x) holds at
    df = 1. k-way allocations belong to the batch audit, where the
    general chi-square tail is available."""
    spark = counts.sparkSession
    n_arms = 2
    r = ratios if ratios is not None else [0.5, 0.5]
    if len(r) != 2:
        raise ValueError("srm_report is the two-arm monitor; got "
                         f"{len(r)} ratios")
    spine = spark.createDataFrame(
        [(i, float(r[i])) for i in range(n_arms)], "arm int, ratio double"
    )
    j = spine.join(counts, "arm", "left").select(
        "arm", "ratio", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
    )
    # Traffic hashed OUTSIDE the 2-arm spine (a counter built with
    # arms=3, or a corrupted bucketing function) must not silently
    # vanish from the readout: count it separately and OR it into the
    # alarm — off-spine allocation IS an allocation bug (ADVICE r11).
    off = counts.filter(
        (F.col("arm") < 0) | (F.col("arm") >= n_arms)
    ).agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_off"))
    tot = j.agg(F.sum("n").cast("bigint").alias("nt"))
    terms = j.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        "nt",
        (F.col("ratio") * F.col("nt")).alias("expected"),
    )
    chi = terms.agg(
        F.max("nt").alias("n_total"),
        F.count(F.lit(1)).cast("int").alias("n_arms"),
        F.sum(
            F.when(
                F.col("expected") > 0,
                (F.col("n") - F.col("expected"))
                * (F.col("n") - F.col("expected"))
                / F.col("expected"),
            ).otherwise(F.lit(0.0))
        ).alias("chi2"),
    ).crossJoin(F.broadcast(off))
    z = F.sqrt(F.col("chi2"))
    p = F.when(F.col("chi2") > 0, 2.0 * _phi_tail_col(z)).otherwise(F.lit(1.0))
    return chi.select(
        "n_total",
        "n_arms",
        F.round("chi2", 6).alias("chi2"),
        F.round(p, 8).alias("p_value"),
        F.col("n_off").alias("off_spine_traffic"),
        (
            (
                (F.col("n_total") > 0)
                & (
                    F.when(F.col("chi2") > 0, 2.0 * _phi_tail_col(z)).otherwise(
                        1.0
                    )
                    < alarm_p
                )
            )
            | (F.col("n_off") > 0)
        ).alias("srm_alarm"),
    )


def conversion_traffic(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    conv_value: str = "purchase",
    arms: int = 2,
    seed: str = "11",
) -> DataFrame:
    """Streaming (or batch — same expression) per-arm conversion
    counters: (arm, n, conv) with at most `arms` state rows. The
    TRAFFIC-level estimand again (conversion events per event),
    bounded-state by construction; the unit-level (per-user)
    version is the batch ab_msprt_always_valid query."""
    return events.groupBy(
        arm_index(user_col, arms, seed).alias("arm")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col(type_col) == conv_value, 1))
        .cast("bigint")
        .alias("conv"),
    )


def msprt_report(
    counts: DataFrame,
    tau2: float = 1e-4,
    alarm_alpha: float = 0.05,
) -> DataFrame:
    """Read-side mixture-SPRT effect monitor over a (arm, n, conv)
    counter table: the two-proportion mixture likelihood ratio
    Λ = √(V/(V+τ²))·exp(d²τ²/(2V(V+τ²))) on the CUMULATIVE counts,
    p = min(1, 1/Λ), and the alarm at Λ ≥ 1/α.

    Validity: Λ_t is a nonnegative martingale under H₀, so by
    Ville's inequality P(∃t: Λ_t ≥ 1/α) ≤ α — the alarm may be
    READ EVERY TRIGGER and still holds its false-alarm budget, no
    running max required (the batch twin ab_msprt_always_valid keeps
    the running max because it reports the historically smallest
    always-valid p; an operational alarm only needs the crossing).

    Degenerate readouts (an arm with zero traffic, all-or-nothing
    conversion) leave Λ undefined → p = 1, alarm false — the SRM
    monitor is the one that owns missing-arm alarms. A missing-arm
    COUNTER ROW (dead variant server, or a readout before arm-1's
    first event) collapses to the same quiet row via a conditional
    aggregate over the full counter table, which always yields
    exactly one row even when `counts` is empty (ADVICE r11: the old
    per-arm filter + crossJoin form returned an EMPTY frame there,
    IndexError-ing every .collect()[0] consumer)."""
    j = counts.agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("n"))), F.lit(0)
        ).cast("bigint").alias("na"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("conv"))), F.lit(0)
        ).cast("bigint").alias("ca"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("n"))), F.lit(0)
        ).cast("bigint").alias("nb"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("conv"))), F.lit(0)
        ).cast("bigint").alias("cb"),
    )
    # try_divide: a zero-traffic arm yields NULL rates (not an ANSI
    # divide-by-zero error), which the lam guard turns into the quiet
    # row the docstring promises.
    pa = F.try_divide(F.col("ca").cast("double"), F.col("na"))
    pb = F.try_divide(F.col("cb").cast("double"), F.col("nb"))
    pp = F.try_divide(
        (F.col("ca") + F.col("cb")).cast("double"),
        F.col("na") + F.col("nb"),
    )
    v = pp * (1.0 - pp) * (
        F.try_divide(F.lit(1.0), F.col("na"))
        + F.try_divide(F.lit(1.0), F.col("nb"))
    )
    d = pa - pb
    lam = F.when(
        (F.col("na") > 0)
        & (F.col("nb") > 0)
        & ((F.col("ca") + F.col("cb")) > 0)
        & ((F.col("ca") + F.col("cb")) < (F.col("na") + F.col("nb"))),
        F.sqrt(v / (v + F.lit(tau2)))
        * F.exp(d * d * F.lit(tau2) / (2.0 * v * (v + F.lit(tau2)))),
    )
    return j.select(
        (F.col("na") + F.col("nb")).alias("n_total"),
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(lam, 6).alias("mixture_lr"),
        F.round(
            F.when(
                lam.isNotNull() & (lam > 1.0), 1.0 / lam
            ).otherwise(F.lit(1.0)),
            8,
        ).alias("p_always_valid"),
        F.coalesce(lam >= F.lit(1.0 / alarm_alpha), F.lit(False)).alias(
            "effect_alarm"
        ),
    )
