"""spark-submit entry point: replay a change log into a LakeTable.

    spark-submit --py-files dist/etl_spark.zip scripts/submit_replay.py \
        --log LOG_DIR --table TABLE_DIR [--buckets N]

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); the engine only sets its SQL-level knobs
(``etl_spark.session.SQL_CONF``) on the builder that creates the session.
"""
import argparse
import json

from pyspark.sql import SparkSession

from etl_spark.cdc.engine import CdcEngine
from etl_spark.session import with_sql_conf


def session() -> SparkSession:
    return with_sql_conf(SparkSession.builder.appName("etl_spark_replay")).getOrCreate()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--log", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", type=int, default=256)
    args = p.parse_args()

    spark = session()
    eng = CdcEngine(spark, args.table, num_buckets=args.buckets)
    results = eng.replay(args.log)
    print(json.dumps({
        "epochs_applied": len(results),
        "rows_in": sum(r.rows_in for r in results),
        "committed_epoch": eng.table.committed_epoch(),
    }))


if __name__ == "__main__":
    main()
