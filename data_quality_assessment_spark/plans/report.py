"""The reference's flagship artifact in Spark: the six-metric quality
report over an IoT-shaped frame (entity_id, observationDateTime,
payload columns) — EP1 of SURVEY.md §3, quirks Q1-Q9 included.

Parity notes (each cites the reference line and the quirk):

  * dupe metric runs on the RAW frame (Q9, DQReportGenerator.py:157)
  * dedup THEN IAT (DQReportGenerator.py:129-131); IAT uses the GLOBAL
    lag over (entity, ts) order, crossing entity boundaries (Q1,
    PreProcessing.py:102-103) — reproduced with an unpartitioned window
    (parity mode is fixture-scale; the scale path partitions by entity
    and is validated by F1, not equality)
  * IAT >= 0 kept (zeros kept, Q2, PreProcessing.py:104)
  * mode ties -> smallest (Q3); outliers one-sided mod-z > 3.5 with the
    post-clean denominator (Q4, metricModules.py:84-88)
  * scores rounded 3dp like the reference's ``round`` calls (Q8 —
    Python banker's rounding differs from Spark HALF_UP on exact .5
    ties; IAT metrics land on .5 boundaries with probability ~0 and
    the parity test pins equality on the fixtures)
  * format/unknown/completeness per the typed-table reinterpretation
    in tests/oracle.py: format error = null in a typed required field
    (Q6 — the reference's Surat format errors are all nulls), unknown
    attribute = non-null field outside the declared set
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import cadence


def dupe_score(df: DataFrame, keys: list[str]) -> DataFrame:
    from ..operators.dedup import dup_count_metric

    return dup_count_metric(df, keys).select("dupe_score")


def six_metric_report(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "observationDateTime",
    required: list[str] | None = None,
    known: list[str] | None = None,
    global_order: bool = True,
) -> DataFrame:
    """One-row DataFrame with the six scores + avg (reference F1-F7).

    ``ts`` may be a string column (ISO-8601 with offset, the reference's
    wire format) or a timestamp; it is parsed with to_timestamp.

    ``global_order=True`` is PARITY mode: the IAT lag runs over the
    single global (entity, ts) order, reproducing the reference's quirk
    Q1 (the diff that crosses entity boundaries) — one unpartitioned
    window, fixture-scale only. ``global_order=False`` is SCALE mode:
    the lag partitions by entity (per SURVEY.md §2.9 Q1, validated by
    keep/drop F1 rather than equality), so the plan has no
    single-partition WindowExec and holds at any cardinality.

    Plan shape (results bit-identical to the pre-r6 composition with its
    full-row dedup, pinned by tests/test_report_equiv.py):

      * dupe + format/unknown/completeness fuse into ONE pass over the
        raw frame — all four are integer counts, so re-grouping the
        sums through the dupe metric's (entity, ts) aggregate is exact;
      * the IAT metrics read only (entity, ts) of the deduplicated rows,
        i.e. the distinct keys that aggregate already groups, so the lag
        runs over the key set (null-ts and null-entity groups are one
        key each either way) — no row dedup, no tiebreak;
      * mode, MAD and the outlier count derive from ONE
        ``groupBy(iat).count()`` frequency table (MAD is the weighted
        ``percentile(dev, 0.5, freq)``, outlier counts are INTEGER sums
        of frequencies). Only the regularity sums are order-sensitive
        float additions, so they keep their per-row aggregate shape.

    It runs as one SQL execution: the references to the key set and to
    the frequency table plan identical exchanges, which Spark reuses.
    Column pruning gives the key set and the dupe+schema aggregate
    different exchanges, so the raw frame is scanned twice.
    """
    required = required or [entity, ts, "payload_str", "payload_num"]
    known = known or required
    d = df.withColumn("_ts", F.to_timestamp(F.col(ts)))

    # --- PASS A: dupe (Q9: raw frame) + schema metrics, one aggregate.
    # req-null / extra / missing counts ride the dupe metric's
    # (entity, ts) partial aggregation — integer sums, exact under any
    # grouping; formulas and rounding identical to the reference.
    req_null = [F.col(c).isNull() for c in required if c != ts]
    req_null.append(F.col("_ts").isNull())
    any_null = req_null[0]
    for c in req_null[1:]:
        any_null = any_null | c
    n_missing = sum(c.cast("long") for c in req_null)
    extras = [c for c in df.columns if c not in known]
    any_extra = (
        F.lit(False) if not extras
        else __import__("functools").reduce(
            lambda a, b: a | b, [F.col(c).isNotNull() for c in extras]
        )
    )
    per_key = d.groupBy(entity, "_ts").agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(any_null.cast("long")).alias("_nl"),
        F.sum(any_extra.cast("long")).alias("_ne"),
        F.sum(n_missing).alias("_nm"),
    )
    n_groups = F.count(F.lit(1))
    total = F.sum("_c")
    base_df = per_key.agg(
        F.round(F.lit(1.0) - (total - n_groups) / total, 3).alias("dupe"),
        F.round(F.lit(1.0) - F.sum("_nl") / total, 4).alias(
            "format_adherence"
        ),
        F.round(F.lit(1.0) - F.sum("_ne") / total, 4).alias(
            "unknown_absence"
        ),
        F.round(
            F.lit(1.0) - F.sum("_nm") / (total * len(required)), 6
        ).alias("completeness"),
    )

    # --- IAT over the distinct keys (dedup then IAT, Q1 in parity mode)
    keys = per_key.select(entity, "_ts")
    iat = cadence.with_iat(keys, entity, "_ts", global_order=global_order)
    clean = iat.filter(F.col("iat").isNotNull()).select("iat")

    # --- PASS B: iat frequency table -> mode, MAD, outlier counts.
    # MAD = percentile(dev, 0.5, frequency) — the SAME Percentile
    # aggregate F.median runs over the expanded rows (its buffer counts
    # values; seeding the counts with the frequencies is identical),
    # with map-side partials and no global sort or window.
    freq = clean.groupBy("iat").agg(F.count(F.lit(1)).alias("_c"))
    mode_row = freq.agg(
        F.min(
            F.struct((-F.col("_c")).alias("nc"), F.col("iat").alias("v"))
        )["v"].alias("mode")
    )
    fr = freq.crossJoin(F.broadcast(mode_row)).withColumn(
        "_dev", F.abs(F.col("iat") - F.col("mode"))
    )
    stats_row = fr.agg(
        F.percentile(F.col("_dev"), F.lit(0.5), F.col("_c")).alias("mad"),
        F.sum("_c").alias("_n"),
    )
    # one-sided mod-z > 3.5 (Q4): the test depends only on the distinct
    # iat value, so the outlier count is an exact integer sum of
    # frequencies; denominator is the clean row count (same as before)
    modz_num = 0.6745 * (F.col("iat") - F.col("mode"))
    out_row = fr.crossJoin(F.broadcast(stats_row)).agg(
        F.sum(
            F.when(
                (F.col("mad") > 0)
                & (F.try_divide(modz_num, F.col("mad")) > 3.5),
                F.col("_c").cast("double"),
            ).otherwise(F.lit(0.0))
        ).alias("_nout"),
        F.first(F.col("_n")).alias("_n"),
    )
    out_df = out_row.select(
        F.round(
            F.round(F.lit(1) - F.col("_nout") / F.col("_n"), 6), 3
        ).alias("outliers")
    )

    # --- regularity: order-sensitive float sums — keep the original
    # per-row aggregate shape (same rows, same terms, same rounding)
    m = mode_row.filter(F.col("mode") != 0)
    j = clean.crossJoin(F.broadcast(m))
    rae = F.abs(F.col("iat") - F.col("mode")) / F.col("mode")
    good = F.sum(F.when(rae <= 0.5, 1 - 2 * rae).otherwise(F.lit(0.0)))
    cnt = F.sum(F.when(rae <= 0.5, F.lit(1.0)).otherwise(F.lit(0.0)))
    bad = F.sum(F.when(rae > 0.5, 2 * rae).otherwise(F.lit(0.0)))
    reg_df = j.agg(
        F.round(F.round(good / (cnt + bad), 6), 3).alias("regularity")
    )

    row = base_df.crossJoin(reg_df).crossJoin(out_df)
    avg = F.round(
        (
            F.col("dupe") + F.col("regularity") + F.col("outliers")
            + F.col("format_adherence") + F.col("unknown_absence")
            + F.col("completeness")
        ) / 6,
        3,
    )
    return row.withColumn("avg_score", avg)


def reference_report(
    spark,
    data_path: str,
    schema_path: str,
    entity: str,
    ts: str = "observationDateTime",
) -> DataFrame:
    """The FULL reference EP1 over an actual reference-format dataset:
    JSON-array packets + JSON-Schema file -> one-row DataFrame with the
    exact fields of ``outputReports/*_Report.json``.

    Pipeline (mirroring ``DQReportGenerator.py:13-162``):
      * typed read (``ingest.read_packets_json``) -> dupe/IAT metrics
        with the config's (entity, observationDateTime) keys; dupe on the
        RAW frame (Q9), dedup -> global-order IAT (Q1) -> regularity (A8)
        + one-sided mode-MAD outliers (A7), rounded 3dp (Q8);
      * raw read (``ingest.read_packets_raw``) -> JSON-Schema rule engine
        (``schema_rules``) with ``additionalProperties=False`` (the
        reference's mutation at ``DQReportGenerator.py:58``) -> format /
        unknown / completeness scores, UNROUNDED (Q8: the JSON report
        emits them at full precision);
      * avg = round(mean of the six, 3);
      * start/end time: min/max of the tz-STRIPPED local timestamp
        (``PreProcessing.py:69-75`` strips the offset, so the report
        shows sensor-local wall clock).

    Asserted equal to both shipped golden reports by
    ``tests/test_golden_reference.py``.
    """
    import json

    from ..functions import schema_rules
    from ..sources import ingest

    typed = ingest.read_packets_json(spark, data_path)
    raw = ingest.read_packets_raw(spark, data_path)
    with open(schema_path) as f:
        schema_dict = json.load(f)
    schema_dict["additionalProperties"] = False
    schema = schema_rules.JsonSchema.from_dict(schema_dict)

    iat_part = six_metric_report(
        typed.select(entity, ts), entity=entity, ts=ts, required=[entity, ts]
    ).select("dupe", "regularity", "outliers")
    schema_part = schema_rules.schema_metrics(
        raw, "raw", schema, round_dp=None
    ).select(
        F.col("format_score").alias("format_adherence"),
        F.col("unknown_score").alias("unknown_absence"),
        F.col("completeness_score").alias("completeness"),
    )
    # local wall-clock range (offset textually stripped, as the reference
    # strips tz after parsing)
    local_ts = F.to_timestamp(F.substring(F.col(ts), 1, 19))
    range_part = typed.agg(
        F.count(F.lit(1)).cast("long").alias("n_packets"),
        F.date_format(F.min(local_ts), "yyyy-MM-dd HH:mm:ss").alias("start_time"),
        F.date_format(F.max(local_ts), "yyyy-MM-dd HH:mm:ss").alias("end_time"),
    )
    row = range_part.crossJoin(iat_part).crossJoin(schema_part)
    avg = F.round(
        (
            F.col("dupe") + F.col("regularity") + F.col("outliers")
            + F.col("format_adherence") + F.col("unknown_absence")
            + F.col("completeness")
        ) / 6,
        3,
    )
    return row.withColumn("avg_score", avg)


def time_range(df: DataFrame, ts: str) -> DataFrame:
    """W3 (PreProcessing.py:66-82): min/max timestamp + display format."""
    t = F.to_timestamp(F.col(ts))
    return df.agg(
        F.min(t).alias("t_min"),
        F.max(t).alias("t_max"),
        F.date_format(F.min(t), "MMM yyyy").alias("from_label"),
        F.date_format(F.max(t), "MMM yyyy").alias("to_label"),
    )


def report_json(report_row: dict, path: str) -> None:
    """S5 analog: machine-readable JSON report sink."""
    import json

    with open(path, "w") as f:
        json.dump(report_row, f, indent=2, default=str)
