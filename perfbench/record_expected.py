"""Record the expected result manifests in perfbench/expected.json.

For every benchmark query over the generated dataset, this runs the query
as a verified engine job, which yields its ResultsAccepted manifest. It
then builds the query's DataFrame once more, materialises it, and from
that one materialised result takes both its manifest and its rows. The
manifest must equal the engine's, and the rows must match DuckDB running
the query's `registry.oracle_sql()` over the same parquet files: row
count, column names and an order-insensitive hash of every value. The
file is written only when every query passes both checks; otherwise the
script writes nothing and exits non-zero.

    python3 perfbench/record_expected.py

Run it from the root of a checkout after changing perfbench/datagen.py
(bump GENERATOR_REV) or a query's semantics.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from workloads import WORKLOADS, dataset_name  # noqa: E402


def _cell(v) -> str:
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(float(v)) else repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        # DuckDB returns DATE as a midnight timestamp, Spark as a date
        if v.tz is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def rows_digest(df) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(rows), cols, h


def main() -> None:
    store = os.path.join(ROOT, ".perfbench", "record-store")
    shutil.rmtree(store, ignore_errors=True)
    os.environ["SPARK_GRAFT_INDEX_STORE"] = store
    import duckdb

    from bacalhau_spark.engine import Engine, JobSpec
    from bacalhau_spark.registry import ALL_QUERIES, engine_registry
    from bacalhau_spark.session import get_session
    from bacalhau_spark.sources.sinks import result_manifest
    from run import prepare_data

    spark = get_session("perfbench-record",
                        master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark, engine_registry())
    doc: dict = {"datasets": {}}
    failures = []
    for wl in WORKLOADS.values():
        sf = wl["sf"]
        data, _ = prepare_data(sf)
        con = duckdb.connect()
        for t in os.listdir(data):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}')")
        manifests = doc["datasets"].setdefault(dataset_name(sf), {})
        for q in wl["queries"]:
            fn, sql = ALL_QUERIES[q]
            rid = engine.submit(JobSpec(query=q, inputs={"sf_dir": data},
                                        verified=True))
            manifest = engine.describe(rid)["manifest"]
            # one materialised result: its manifest and its rows are
            # those of the same data
            df = fn(spark, data).localCheckpoint(eager=True)
            same = result_manifest(df) == manifest
            got = rows_digest(df.toPandas())
            want = rows_digest(con.execute(sql).fetchdf())
            print(f"{dataset_name(sf)} {q}: "
                  f"rows {'match' if got == want else 'MISMATCH'} "
                  f"({got[0]}/{want[0]}), manifest "
                  f"{'same' if same else 'DIFFERS'} {manifest}")
            manifests[q] = manifest
            if got != want or not same:
                failures.append(q)
    spark.stop()
    shutil.rmtree(store, ignore_errors=True)
    if failures:
        raise SystemExit(f"check failed, nothing recorded: {failures}")
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
