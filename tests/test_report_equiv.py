"""six_metric_report's plan shape — the fused one-pass dupe+schema
aggregate, IAT over the distinct (entity, ts) keys instead of a
full-row md5 dedup, and the frequency-table mode/MAD/outlier path —
must produce BIT-identical rows to the pre-r6 composition (kept here
as the reference implementation, row dedup included)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_quality_assessment_spark.operators import cadence
from data_quality_assessment_spark.plans.report import six_metric_report


def _reference_six_metric_report(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "observationDateTime",
    required: list[str] | None = None,
    known: list[str] | None = None,
    global_order: bool = True,
) -> DataFrame:
    """The pre-r6 composition, verbatim (plans/report.py history)."""
    required = required or [entity, ts, "payload_str", "payload_num"]
    known = known or required
    d = df.withColumn("_ts", F.to_timestamp(F.col(ts)))

    n = F.count(F.lit(1))
    dupe_df = d.groupBy(entity, "_ts").agg(F.count(F.lit(1)).alias("_c")).agg(
        F.round(
            F.lit(1.0) - (F.sum("_c") - n) / F.sum("_c"), 3
        ).alias("dupe")
    )

    tiebreak = F.md5(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
    w = Window.partitionBy(entity, "_ts").orderBy(tiebreak)
    dd = d.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    iat = cadence.with_iat(dd, entity, "_ts", global_order=global_order)
    clean = iat.filter(F.col("iat").isNotNull()).select("iat")

    reg_df = cadence.regularity_score(clean, "iat").select(
        F.round("reg_score", 3).alias("regularity")
    )
    out_df = cadence.outlier_score(clean, "iat").select(
        F.round("out_score", 3).alias("outliers")
    )

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
    schema_df = d.agg(
        F.round(F.lit(1.0) - F.sum(any_null.cast("long")) / n, 4).alias(
            "format_adherence"
        ),
        F.round(F.lit(1.0) - F.sum(any_extra.cast("long")) / n, 4).alias(
            "unknown_absence"
        ),
        F.round(
            F.lit(1.0) - F.sum(n_missing) / (n * len(required)), 6
        ).alias("completeness"),
    )

    row = (
        dupe_df.crossJoin(reg_df)
        .crossJoin(out_df)
        .crossJoin(schema_df)
    )
    avg = F.round(
        (
            F.col("dupe") + F.col("regularity") + F.col("outliers")
            + F.col("format_adherence") + F.col("unknown_absence")
            + F.col("completeness")
        ) / 6,
        3,
    )
    return row.withColumn("avg_score", avg)


def _mk_iot(spark, rows):
    return spark.createDataFrame(
        rows,
        "entity_id long, observationDateTime string, "
        "payload_str string, payload_num double, zz_extra string",
    )


def _rows_regular(n=200):
    base = dt.datetime(2022, 3, 1, 8, 0, 0)
    rows = []
    for i in range(n):
        e = i % 5
        t = base + dt.timedelta(seconds=e * 7 + (i // 5) * (30 + e))
        rows.append((
            e,
            t.strftime("%Y-%m-%dT%H:%M:%S+05:30"),
            None if i % 17 == 0 else f"v{i}",
            None if i % 23 == 0 else float(i),
            "x" if i % 41 == 0 else None,
        ))
    # exact duplicates
    rows += rows[:7]
    return rows


def _rows_bursty(n=120):
    # many same-second arrivals -> modal IAT 0 (degenerate regularity)
    base = dt.datetime(2022, 3, 1, 8, 0, 0)
    rows = []
    for i in range(n):
        t = base + dt.timedelta(seconds=i // 6)
        rows.append((i % 3, t.strftime("%Y-%m-%dT%H:%M:%S+05:30"),
                     f"v{i}", float(i), None))
    return rows


def _rows_conflicting(n=160):
    # re-sent (entity, ts) keys whose payloads DIFFER (the reference's
    # row dedup picks one winner by content hash; the report keeps only
    # the key), an unparseable ts on two rows of one entity (one
    # null-ts key) and null-entity rows (one entity group, own IATs)
    base = dt.datetime(2022, 3, 1, 8, 0, 0)
    rows = []
    for i in range(n):
        e = i % 4
        jitter = 9 if i % 13 == 0 else 0
        outage = 400 if e == 3 and i >= n // 2 else 0
        t = base + dt.timedelta(
            seconds=(i // 4) * (20 + 3 * e) + jitter + outage
        )
        rows.append((e, t.strftime("%Y-%m-%dT%H:%M:%S+05:30"),
                     f"v{i}", float(i), None))
    rows += [
        (e, ts, None if k % 2 else f"w{k}", float(-k), "x" if k == 3 else None)
        for k, (e, ts, *_) in enumerate(rows[::11])
    ]
    rows += [
        (1, "not-a-timestamp", "bad", 1.0, None),
        (1, "2022-03-01T25:61:00", None, 2.0, None),
        (None, "2022-03-01T08:00:05+05:30", "n0", 3.0, None),
        (None, "2022-03-01T08:00:45+05:30", "n1", 4.0, None),
        (None, "2022-03-01T08:00:45+05:30", "n2", None, "y"),
        (None, "2022-03-01T08:01:25+05:30", "n3", 5.0, None),
    ]
    return rows


@pytest.mark.parametrize("go", [True, False])
@pytest.mark.parametrize("mk", [_rows_regular, _rows_bursty, _rows_conflicting])
def test_six_metric_report_matches_reference(spark, mk, go):
    kw = dict(
        required=["entity_id", "observationDateTime", "payload_str",
                  "payload_num"],
        known=["entity_id", "observationDateTime", "payload_str",
               "payload_num"],
        global_order=go,
    )
    # an unparseable ts is a cast error under ANSI (both paths raise);
    # with ANSI off to_timestamp yields NULL, a format error (Q6). The
    # mode is read when the frames are analysed, so set it before.
    lenient = mk is _rows_conflicting
    if lenient:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = _mk_iot(spark, mk())
        got = six_metric_report(df, **kw).collect()[0].asDict()
        want = _reference_six_metric_report(df, **kw).collect()[0].asDict()
    finally:
        if lenient:
            spark.conf.unset("spark.sql.ansi.enabled")
    assert got == want


def test_six_metric_report_single_row_and_empty_clean(spark):
    # one packet: no IATs at all -> reg/out columns null in BOTH paths
    df = _mk_iot(spark, [(1, "2022-03-01T08:00:00+05:30", "a", 1.0, None)])
    got = six_metric_report(df).collect()[0].asDict()
    want = _reference_six_metric_report(df).collect()[0].asDict()
    assert got == want
