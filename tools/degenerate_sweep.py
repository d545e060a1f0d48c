"""Robustness sweep: run every registry query over a fixture salted
with the degenerate rows a real crawl always carries.

A 10^12-row input WILL contain empty documents, NULL text, NULL binary
payloads, records with NULL timestamps/values, malformed JSON props,
and NULL/empty/zero embeddings.  Under Spark 4's default ANSI mode any
unguarded cast or integral division turns one such row into a
job-killing error, so this sweep is the regression gate for the
lenient-ingest contract (README "Lenient ingest under ANSI").

Usage:  python tools/degenerate_sweep.py [base_sf_dir]
Builds a salted copy of the fixture under /tmp/sparkotel_degenerate,
runs all registry queries against it, and exits non-zero if anything
crashes beyond the EXPECTED set (signaltometrics error_mode=propagate
definitions fail BY DESIGN on records whose value expression is NULL —
the reference's own fail-loud contract).
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EXPECTED_FAILURES = {"s2m_gauge_last", "s2m_histogram", "s2m_exp_histogram"}


def build_fixture(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for f in os.listdir(src):
        # A fixture dir may hold directory-shaped tables (Spark-written
        # <table>.parquet/ with part files) or metadata dirs alongside
        # single-file parquet — copy both shapes instead of crashing.
        s, d = os.path.join(src, f), os.path.join(dst, f)
        if os.path.isdir(s):
            shutil.copytree(s, d)
        else:
            shutil.copy(s, d)

    t = pq.read_table(os.path.join(src, "documents.parquet"))
    add = pd.DataFrame(
        {
            "doc_id": [99000001, 99000002, 99000003, 99000004, 99000005, 99000006],
            "text": ["", " ", "a", None, "  ", "!!! ??? ..."],
            "lang": ["en", "en", None, "en", "zz", "en"],
            "source": ["adv", "adv", "adv", "adv", None, "adv"],
            "n_chars": [0, 1, 1, None, 2, 11],
        }
    )
    out = pd.concat([t.to_pandas(), add], ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(out, preserve_index=False).cast(t.schema),
        os.path.join(dst, "documents.parquet"),
    )

    t = pq.read_table(os.path.join(src, "events.parquet"))
    df = t.to_pandas()
    add = pd.DataFrame(
        {
            "event_id": [99000001, 99000002, 99000003, 99000004, 99000005],
            "ts": [pd.NaT, df["ts"].iloc[0], df["ts"].iloc[1], pd.NaT, df["ts"].iloc[2]],
            "user_id": [None, 7, None, 8, 9],
            "event_type": [None, "", "click", None, "zz"],
            "value": [None, float("nan"), 0.0, None, -1.5],
            "props": [None, "", "not json", '{"k": true}', "[1,2]"],
        }
    )
    out = pd.concat([df, add], ignore_index=True)
    tbl = pa.Table.from_pandas(out, preserve_index=False).cast(t.schema)
    # from_pandas folds NaN into Arrow NULL, so the float("nan") salt row
    # above would silently become just another NULL; re-poke a genuine
    # NaN double into that row (global index len(df)+1) so the sweep
    # actually exercises NaN propagation, not only NULL handling
    vidx = tbl.schema.get_field_index("value")
    vals = tbl.column(vidx).to_pylist()
    vals[len(df) + 1] = float("nan")
    tbl = tbl.set_column(
        vidx, tbl.schema.field(vidx), pa.array(vals, type=tbl.schema.field(vidx).type)
    )
    pq.write_table(tbl, os.path.join(dst, "events.parquet"))

    t = pq.read_table(os.path.join(src, "embeddings.parquet"))
    df = t.to_pandas()
    dim = len(df["embedding"].iloc[0])
    add = pd.DataFrame(
        {
            "vec_id": [99000001, 99000002, 99000003],
            "embedding": [None, [], [0.0] * dim],
            "label": [None, 1, 2],
        }
    )
    out = pd.concat([df, add], ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(out, preserve_index=False).cast(t.schema),
        os.path.join(dst, "embeddings.parquet"),
    )


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = "/tmp/sparkotel_degenerate"
    build_fixture(base, dst)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as mod

    from sparkotel.session import get_spark

    spark = get_spark(app="degenerate-sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    crashed: list[str] = []
    qs = mod.queries()
    for i, (name, fn) in enumerate(qs.items()):
        try:
            # collect, not count: under count() Catalyst prunes the
            # projections a degenerate row would crash
            fn(spark, dst).collect()
        except Exception as e:  # noqa: BLE001 — the sweep reports, not raises
            crashed.append(name)
            print(f"[{i + 1}/{len(qs)}] {name} CRASH: {str(e).splitlines()[0][:140]}")
    spark.stop()

    unexpected = [c for c in crashed if c not in EXPECTED_FAILURES]
    missing = EXPECTED_FAILURES - set(crashed)
    print(f"crashed: {crashed}")
    if unexpected:
        print(f"UNEXPECTED failures: {unexpected}")
        return 1
    if missing:
        print(
            f"expected propagate-mode failures did NOT fire: {sorted(missing)} "
            "(degenerate events rows missing, or error_mode changed?)"
        )
        return 1
    print("sweep clean: only the by-design propagate-mode failures fired")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
