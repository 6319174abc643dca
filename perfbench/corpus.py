"""Seeded inputs for the three workloads, their measured properties and
the oracle's expected outputs, cached per (workload, seed).

Everything here runs in the benchmark's own process, before the system
under test starts, so generation and the oracle stay out of every timed
metric and out of the measured process tree.

  crawl_default      ``gen_pages_fast`` pages with its standard quotas
                     (5% duplicate keys, 10% PII, 8% non-English, 3% null
                     text), multi-line HTML pages.
  crawl_short_dupes  the same generator cut to 1-2 lines per page; every
                     base row gets one re-crawl of an existing
                     (url, warc_ts) with another row's payload, and the
                     rows land in many small parquet files.
  iot_report         an IoT/events table (event_id, ts, user_id,
                     event_type, value, props) with regular per-entity
                     cadences, outage gaps, nulls and 5% duplicate keys.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import zlib

import numpy as np
import pandas as pd

VERSION = "v2"
WORKLOADS = ("crawl_default", "crawl_short_dupes", "iot_report")

# Input sizes: one timed pass takes about 1.5-2.5 s on a 4-core host, so a
# run of a few seconds holds several passes and the median is stable.
SIZES = {
    "crawl_default": {"docs": 30_000, "files": 8},
    "crawl_short_dupes": {"docs": 10_000, "files": 64},
    "iot_report": {"entities": 5_000, "events_per_entity": 20, "files": 8},
}
# rows of the crawl output compared against the pandas oracle per run
ORACLE_SAMPLE_ROWS = 400
# stated targets of each workload's property shares (rows incl. dups)
TARGETS = {
    "crawl_default": {
        "dup_key_share": 0.05 / 1.05, "pii_share": 0.10,
        "non_english_share": 0.08, "null_text_share": 0.03,
    },
    "crawl_short_dupes": {
        "dup_key_share": 1 - 0.5 * (1 - 0.05 / 1.05), "pii_share": 0.10,
        "non_english_share": 0.08, "null_text_share": 0.03,
    },
    "iot_report": {
        "dup_key_share": 0.05 / 1.05, "null_value_share": 0.05,
        "null_event_type_share": 0.03, "props_share": 0.01,
    },
}
_KEEP_CORPORA = 12
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the generator's non-English scripts: Cyrillic, CJK (+ kana), Devanagari
_FOREIGN = re.compile("[\u0400-\u04ff\u4e00-\u9fff\u3040-\u30ff\u0900-\u097f]")


def _derive(seed: int, tag: int) -> int:
    return int(np.random.SeedSequence([seed, tag]).generate_state(1)[0])


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def _html(text):
    if not isinstance(text, str):
        return None
    return b"<html><body>" + text.encode("utf-8") + b"</body></html>"


def shorten_pages(df: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Cut each page to 1-2 of its lines (PII lines first, then slur lines,
    when the page has them) and single-line pages to 5-20 words, so pages
    land on both sides of ``min_words=10``."""
    from data_quality_assessment_spark.sources.fixture_gen import PII_SNIPPETS

    special = set(PII_SNIPPETS)
    rng = np.random.RandomState(_derive(seed, 101))
    keep_lines = rng.randint(1, 3, len(df))
    keep_words = rng.randint(5, 21, len(df))
    out = []
    for t, k, w in zip(df["text"], keep_lines, keep_words):
        if not isinstance(t, str):
            out.append(t)
            continue
        lines = t.split("\n")
        if len(lines) == 1:
            out.append(" ".join(t.split(" ")[:w]))
            continue
        pii = [ln for ln in lines if ln in special]
        slur = [ln for ln in lines if ln.startswith("what a ")]
        rest = [ln for ln in lines if ln not in pii and ln not in slur]
        out.append("\n".join((pii + slur + rest)[:k]))
    df = df.copy()
    df["text"] = out
    df["html"] = [_html(t) for t in out]
    return df


def add_recrawls(df: pd.DataFrame, seed: int) -> pd.DataFrame:
    """One re-crawl per row: the (url, warc_ts) of a random existing row
    with the payload (html, text, lang) of another random row."""
    rng = np.random.RandomState(_derive(seed, 102))
    n = len(df)
    keys = df[["url", "warc_ts", "props_json"]].iloc[rng.randint(0, n, n)]
    payload = df[["html", "text", "lang"]].iloc[rng.randint(0, n, n)]
    re_rows = pd.concat(
        [keys.reset_index(drop=True), payload.reset_index(drop=True)], axis=1
    )
    return pd.concat([df, re_rows[df.columns]], ignore_index=True)


def gen_events(n_entities: int, per_entity: int, seed: int) -> pd.DataFrame:
    """IoT/events table in the ``events`` schema of ``__spark_entry__.py``. Each entity
    reports on its own regular cadence (30/60/300/900 s) with 0-2 s
    jitter; 2% of reports follow an outage gap of 10-120 minutes. Nulls:
    5% value, 3% event_type; 1% rows carry an unknown ``props`` field;
    5% extra rows duplicate an existing (user_id, ts) key."""
    rng = np.random.RandomState(_derive(seed, 201))
    n = n_entities * per_entity
    ent = np.repeat(np.arange(n_entities, dtype=np.int64), per_entity)
    cadence = rng.choice([30, 60, 300, 900], n_entities, p=[0.4, 0.3, 0.2, 0.1])
    step = cadence[ent] + rng.randint(0, 3, n)
    gap = np.where(rng.rand(n) < 0.02, rng.randint(600, 7200, n), 0)
    first = np.arange(n) % per_entity == 0
    step[first] = rng.randint(0, 3600, n_entities)
    gap[first] = 0
    offs = (
        pd.Series(step + gap).groupby(ent).cumsum().to_numpy().astype(np.int64)
    )
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(offs, unit="s")
    types = np.array(["reading", "status", "alarm", "heartbeat"], dtype=object)
    ev_type = types[rng.randint(0, len(types), n)]
    ev_type[rng.rand(n) < 0.03] = None
    value = np.round(rng.gamma(2.0, 25.0, n), 2)
    value[rng.rand(n) < 0.05] = np.nan
    props = np.full(n, None, dtype=object)
    props[rng.rand(n) < 0.01] = '{"fw": "1.2.3"}'
    df = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64), "ts": ts, "user_id": ent,
        "event_type": ev_type, "value": value, "props": props,
    })
    n_dup = int(0.05 * n)
    dup = df.iloc[rng.randint(0, n, n_dup)].copy()
    dup["event_id"] = np.arange(n, n + n_dup, dtype=np.int64)
    dup["value"] = np.round(rng.gamma(2.0, 25.0, n_dup), 2)
    df = pd.concat([df, dup], ignore_index=True)
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def generate(workload: str, seed: int, scale: float = 1.0) -> pd.DataFrame:
    """The workload's input frame. ``scale`` shrinks it (tests)."""
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    size = SIZES[workload]
    if workload == "iot_report":
        return gen_events(
            max(1, int(size["entities"] * scale)), size["events_per_entity"], seed
        )
    df = gen_pages_fast(max(20, int(size["docs"] * scale)), seed=seed)
    if workload == "crawl_short_dupes":
        df = add_recrawls(shorten_pages(df, seed), seed)
    rng = np.random.RandomState(_derive(seed, 103))
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """Content digest of an input frame (row order included)."""
    h = pd.util.hash_pandas_object(df.astype(str), index=False)
    return hashlib.sha256(h.to_numpy().tobytes()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# properties
# ---------------------------------------------------------------------------


def properties(workload: str, df: pd.DataFrame) -> dict:
    """Measured shares of the input, the facts a later change that helps
    only some inputs can cite."""
    rows = len(df)
    if workload == "iot_report":
        keys = df[["user_id", "ts"]].drop_duplicates()
        return {
            "rows": rows,
            "distinct_keys": len(keys),
            "dup_key_share": 1 - len(keys) / rows,
            "entities": int(df["user_id"].nunique()),
            "null_value_share": float(df["value"].isna().mean()),
            "null_event_type_share": float(df["event_type"].isna().mean()),
            "props_share": float(df["props"].notna().mean()),
        }
    from data_quality_assessment_spark.sources.fixture_gen import PII_SNIPPETS

    ts_key = df["warc_ts"].astype("int64").where(df["warc_ts"].notna(), -1)
    distinct = len(pd.DataFrame({"u": df["url"], "t": ts_key}).drop_duplicates())
    text = df["text"]
    has_text = text.map(lambda t: isinstance(t, str))
    tlen = text[has_text].map(lambda t: len(t.encode("utf-8")))
    hlen = df["html"].dropna().map(len)
    pii = text[has_text].map(lambda t: any(s in t for s in PII_SNIPPETS))
    foreign = text[has_text].map(lambda t: bool(_FOREIGN.search(t)))
    return {
        "rows": rows,
        "distinct_keys": distinct,
        "dup_key_share": 1 - distinct / rows,
        "mean_text_bytes": float(tlen.mean()),
        "mean_html_bytes": float(hlen.mean()),
        "pii_share": float(pii.sum() / rows),
        "non_english_share": float(foreign.sum() / rows),
        "null_text_share": float(1 - has_text.mean()),
    }


# ---------------------------------------------------------------------------
# oracle expectations
# ---------------------------------------------------------------------------


def _load(rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


def ts_key(v) -> int | None:
    """warc_ts as integer UTC microseconds (None for null): the join key
    the oracle rows and the engine output share."""
    if v is None or pd.isna(v):
        return None
    t = pd.Timestamp(v)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.value // 1000


def sample_urls(urls: pd.Series, rows: int) -> pd.Series:
    """Deterministic url-hash sample: whole (url, warc_ts) groups, about
    ORACLE_SAMPLE_ROWS rows."""
    k = max(1, round(rows / ORACLE_SAMPLE_ROWS))
    return urls.map(lambda u: zlib.crc32(u.encode("utf-8")) % k == 0)


def crawl_expected(df: pd.DataFrame) -> list[dict]:
    """``tests/oracle.oracle_pipeline`` over the sampled groups."""
    oracle = _load("tests/oracle.py", "_perfbench_oracle")
    sample = df[sample_urls(df["url"], len(df))].reset_index(drop=True)
    res = oracle.oracle_pipeline(sample)
    return [
        {
            "url": r.url, "warc_ts": ts_key(r.warc_ts), "keep": bool(r.keep),
            "rules_fired": list(r.rules_fired), "scrubbed_text": r.scrubbed_text,
        }
        for r in res.itertuples()
    ]


def iot_expected(data_dir: str) -> dict:
    """DuckDB over the same parquet, running the scale-mode six-metric
    oracle of ``__spark_entry__.py``."""
    import duckdb

    entry = _load("__spark_entry__.py", "_perfbench_entry")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{data_dir}/*.parquet')"
        )
        cur = con.execute(entry.ORACLE_SIX_METRICS_SCALE)
        names = [d[0] for d in cur.description]
        return dict(zip(names, (float(v) for v in cur.fetchone())))
    finally:
        con.close()


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def _write_parquet(df: pd.DataFrame, data_dir: str, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(df, preserve_index=False)
    for col in ("warc_ts", "ts"):
        if col in tbl.column_names:
            i = tbl.schema.get_field_index(col)
            # Spark cannot read TIMESTAMP(NANOS) parquet
            tbl = tbl.set_column(i, col, tbl.column(col).cast(pa.timestamp("us")))
    os.makedirs(data_dir)
    per = -(-len(tbl) // files)
    for k in range(files):
        pq.write_table(
            tbl.slice(k * per, per), os.path.join(data_dir, f"part-{k:03d}.parquet")
        )


def ensure(cache: str, workload: str, seed: int) -> tuple[str, dict]:
    """(data dir, meta) for (workload, seed), generating on a miss. meta
    holds the input's properties, digest and oracle expectations."""
    size = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode())
    d = os.path.join(
        cache, "corpus", f"{workload}-s{seed}-{VERSION}-{size.hexdigest()[:8]}"
    )
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        os.utime(d)
        with open(meta_path) as f:
            return os.path.join(d, "data"), json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    df = generate(workload, seed)
    data_dir = os.path.join(d, "data")
    _write_parquet(df, data_dir, SIZES[workload]["files"])
    meta = {
        "workload": workload, "seed": seed, "version": VERSION,
        "digest": digest(df), "files": SIZES[workload]["files"],
        "properties": properties(workload, df),
        "targets": TARGETS[workload],
    }
    if workload == "iot_report":
        meta["expected"] = iot_expected(data_dir)
    else:
        meta["expected"] = crawl_expected(df)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    _evict(os.path.dirname(d))
    return data_dir, meta


def _evict(corpus_root: str) -> None:
    dirs = sorted(
        (os.path.join(corpus_root, x) for x in os.listdir(corpus_root)),
        key=os.path.getmtime,
    )
    for old in dirs[:-_KEEP_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)

