#!/usr/bin/env python3
"""Regenerate ``perfbench/fingerprints.json``, the expected answers the
``headline`` workload checks every run against.

For each headline query the fingerprint (row count + order-insensitive
SHA-256, see ``reducers.fingerprint``) comes from the registry's DuckDB
oracle on the fixed lake when the query has one, and from Spark
otherwise.  Where both exist they must agree, or nothing is written.

    python3 perfbench/make_fingerprints.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

import reducers
import run
import workloads

sys.path.insert(0, workloads.ROOT)


def main() -> int:
    run_dir = os.path.join(run.RUN_ROOT, f"fingerprints-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    run._environment(run_dir)
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (  # noqa: E501
        oracle_sql,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (  # noqa: E501
        TPCH_TABLES,
    )

    bench = workloads.Run(0, 0, False, run_dir,
                          os.path.join(run.RUN_ROOT, "fingerprints.log"))
    spark = bench.session()
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.engine import (  # noqa: E501
        Engine,
    )

    eng = Engine(sf_dir=workloads.LAKE, spark=spark)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        path = os.path.join(workloads.LAKE, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracles = oracle_sql()
    out, bad = {}, []
    try:
        for name in workloads.HEADLINE:
            df = eng.query(name)
            got = reducers.fingerprint(df.columns, df.collect())
            eng.release()
            entry = {"fingerprint": got, "source": "spark"}
            if name in oracles:
                rel = con.sql(oracles[name])
                want = reducers.fingerprint(list(rel.columns),
                                            rel.fetchall())
                entry = {"fingerprint": want, "source": "duckdb"}
                if want != got:
                    bad.append(f"{name}: spark {got} != duckdb {want}")
            out[name] = entry
            print(name, entry["source"], entry["fingerprint"]["rows"])
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(workloads.FINGERPRINTS, "w") as f:
        json.dump({"lake": os.path.relpath(workloads.LAKE, workloads.ROOT),
                   "headline": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
