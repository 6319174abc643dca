"""Output checks, run by the benchmark outside every timed window.

Crawl workloads: the engine's rows for a url-hash sample of whole
(url, warc_ts) groups must equal ``tests/oracle.oracle_pipeline`` on
``keep``, ``rules_fired`` and byte-identical ``scrubbed_text``, and every
pass's full-output digest must be the same. ``iot_report``: every pass's
seven report values must equal DuckDB running the scale-mode oracle of
``__spark_entry__.py`` on the same parquet.
"""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq

from perfbench.corpus import sample_urls, ts_key

_FIELDS = ("keep", "rules_fired", "scrubbed_text")


def engine_sample(out_dir: str, rows: int) -> list[dict]:
    """The engine's output rows for the oracle's url sample."""
    tbl = pq.read_table(out_dir, columns=["url", "warc_ts", *_FIELDS]).to_pandas()
    tbl = tbl[sample_urls(tbl["url"], rows)]
    return [
        {"url": r.url, "warc_ts": ts_key(r.warc_ts), "keep": bool(r.keep),
         "rules_fired": list(r.rules_fired), "scrubbed_text": r.scrubbed_text}
        for r in tbl.itertuples()
    ]


def compare_crawl(expected: list[dict], actual: list[dict]) -> list[str]:
    """Mismatches between oracle rows and engine rows, keyed by
    (url, warc_ts); empty when they agree."""
    exp = {(r["url"], r["warc_ts"]): r for r in expected}
    act: dict = {}
    problems = []
    for r in actual:
        key = (r["url"], r["warc_ts"])
        if key in act:
            problems.append(f"{key}: more than one output row")
        act[key] = r
    problems += [f"{k}: missing from output" for k in exp.keys() - act.keys()]
    problems += [f"{k}: not in oracle output" for k in act.keys() - exp.keys()]
    for key in exp.keys() & act.keys():
        for f in _FIELDS:
            a, e = act[key][f], exp[key][f]
            if f == "scrubbed_text":
                a = None if a is None else a.encode("utf-8", "surrogatepass")
                e = None if e is None else e.encode("utf-8", "surrogatepass")
            if a != e:
                problems.append(f"{key}: {f} {a!r} != oracle {e!r}")
    return problems


def crawl_failed(passes: list[dict], oracle_problems: list[str]) -> int:
    """Failed passes: a pass that raised, or whose digest differs from the
    majority's. When the oracle sample disagrees, every pass failed (the
    passes share one digest, so they share the defect)."""
    if oracle_problems:
        return len(passes)
    digests = Counter(tuple(p["digest"]) for p in passes if "digest" in p)
    ref = digests.most_common(1)[0][0] if digests else None
    return sum(1 for p in passes if "error" in p or tuple(p.get("digest", ())) != ref)


def iot_failed(passes: list[dict], expected: dict) -> int:
    def same(values: dict) -> bool:
        return all(round(values[k], 9) == round(v, 9) for k, v in expected.items())

    return sum(1 for p in passes if "error" in p or not same(p["values"]))
