"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, corpus, run, spans, worker

ROOT = run.ROOT


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_seed_fixes_the_corpus(workload):
    a = corpus.digest(corpus.generate(workload, 5, scale=0.05))
    b = corpus.digest(corpus.generate(workload, 5, scale=0.05))
    c = corpus.digest(corpus.generate(workload, 6, scale=0.05))
    assert a == b
    assert a != c


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_property_shares_land_on_targets(workload):
    props = corpus.properties(workload, corpus.generate(workload, 3, scale=0.25))
    for name, target in corpus.TARGETS[workload].items():
        assert props[name] == pytest.approx(target, abs=0.15 * target + 0.003), name


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    fake = {"passes": [{"wall_s": 2.0, "cpu_s": 6.0},
                       {"wall_s": 1.0, "cpu_s": 1.0, "error": "x"}],
            "setup_s": [20.0, 22.0, 30.0], "peak_rss": [2**30, 2**31, 2**29]}
    line = run.result_line(run.end_to_end(fake, 1000), run.E2E_UNITS, 2, 1)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is False
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]
    }
    assert line["metrics"]["rows_per_s"]["value"] == 500.0
    assert line["metrics"]["setup_s"]["value"] == 22.0
    assert line["metrics"]["peak_rss_mb"]["value"] == 1024.0
    assert worker.LAYER_UNITS == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} <= set(corpus.WORKLOADS)


def test_planted_keep_flip_fails_the_output_check():
    df = corpus.generate("crawl_default", 7, scale=0.02)
    expected = corpus.crawl_expected(df)
    actual = [dict(r) for r in expected]
    assert checks.compare_crawl(expected, actual) == []
    actual[3]["keep"] = not actual[3]["keep"]
    problems = checks.compare_crawl(expected, actual)
    assert len(problems) == 1 and "keep" in problems[0]
    assert checks.crawl_failed([{"digest": [1, 1, 1]}] * 3, problems) == 3


def test_scrubbed_text_and_missing_rows_are_checked():
    row = {"url": "u", "warc_ts": 1, "keep": True, "rules_fired": [],
           "scrubbed_text": "a b"}
    assert checks.compare_crawl([row], [{**row, "scrubbed_text": "a  b"}])
    assert checks.compare_crawl([row], [])
    assert checks.compare_crawl([row], [row, row])


def test_digest_and_value_mismatches_count_as_failed_passes():
    passes = [{"digest": [5, 2, 7]}, {"digest": [5, 2, 7]}, {"digest": [5, 2, 8]},
              {"error": "boom"}]
    assert checks.crawl_failed(passes, []) == 2
    exp = {"dupe": 0.952, "avg_score": 0.9}
    ok = {"values": dict(exp)}
    off = {"values": {**exp, "dupe": 0.953}}
    assert checks.iot_failed([ok, off, ok], exp) == 1


def test_sql_metric_strings_parse():
    acc = "total (min, med, max (stageId: taskId))\n2.7 s (631 ms, 714 ms, 715 ms (stage 1.0: task 3))"
    assert spans.parse_metric(acc) == pytest.approx(2.7)
    assert spans.metric_stage(acc) == 1
    assert spans.parse_metric("11.1 MiB") == pytest.approx(11.1 * 2**20)
    assert spans.parse_metric("21,000") == 21000
    assert spans.parse_metric("35 ms") == pytest.approx(0.035)


def test_self_time_subtracts_children():
    t = spans.Tracer("r")
    root = t.add("leg", 0.0, 10.0)
    t.add("stage", 1.0, 4.0, parent=root["id"])
    t.add("stage", 3.0, 6.0, parent=root["id"])
    t.add("stage", 9.0, 12.0, parent=root["id"])
    assert t.self_times() == {"leg": pytest.approx(4.0), "stage": pytest.approx(9.0)}


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_default",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert r.stdout == ""
