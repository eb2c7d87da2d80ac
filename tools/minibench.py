#!/usr/bin/env python
"""Fresh-process mini-bench: bench.py's exact protocol (flagship warmup,
WARM_IN, then min-of-5 noop-sink samples per query, storage released
after each) over just the queries named on the command line. For
A/B-ing one query's change without a full bench run.

$CONF_OVERRIDES (k=v,k=v) A/Bs session confs: each override goes to the
session builder (cluster-static confs) and is set again after
tune_session, which would otherwise overwrite runtime confs such as
shuffle.partitions. Unset or empty, the session is bench.py's.

Usage: python tools/minibench.py q1_pricing_summary d10_incremental_lsh_probe
       CONF_OVERRIDES="spark.x=y" python tools/minibench.py q1_pricing_summary
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.errors import AnalysisException  # noqa: E402

from bench import WARM_IN, sample_query  # noqa: E402
from spark_sql_perf_spark import catalog  # noqa: E402
from spark_sql_perf_spark.operators import QUERIES  # noqa: E402
from spark_sql_perf_spark.session import build_session  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    overrides = dict(
        kv.split("=", 1)
        for kv in os.environ.get("CONF_OVERRIDES", "").split(",")
        if "=" in kv
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="minibench", extra_conf=overrides)
    spark.sparkContext.setLogLevel("ERROR")
    if overrides:
        catalog.tune_session(spark)
        for k, v in overrides.items():
            try:
                spark.conf.set(k, v)
            except AnalysisException:
                pass  # cluster-static conf, already applied via builder
    sample_query(spark, sf_dir, QUERIES["flagship_star_agg"], 1)
    out = {}
    for name in names:
        fn = QUERIES[name]
        sample_query(spark, sf_dir, fn, WARM_IN.get(name, 0))
        ts = sample_query(spark, sf_dir, fn, 5)
        out[name] = {"min": min(ts), "samples": ts}
        print(name, "min", min(ts), ts, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
