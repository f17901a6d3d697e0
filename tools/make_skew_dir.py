#!/usr/bin/env python3
"""Derive a 100%-skew corpus for the eTLD+1 quota probe.

Usage: python3 tools/make_skew_dir.py <srcDir> <outDir>

Remaps every documents.parquet doc_id to 11*i + (i%3), which keeps ids
distinct while forcing doc_id % 11 <= 2 for ALL rows — the rawUrls
derivation then hangs every host under `.example.com`, so ONE
registrable domain owns 100% of the corpus. Row count, text, source,
and all other columns are unchanged; only the id-driven URL derivation
collapses. It measures that the WindowGroupLimit quota plan stays
bounded under a mega-domain: time `pipeline_domain_quota_etld` on the
skewed dir twice with `graft.Bench`, once as is and once with the
rewrite excluded (SparkConf reads `spark.*` JVM system properties), and
compare the shuffle_write_mb of the two runs:

    python3 tools/make_skew_dir.py <sfDir> /tmp/skew
    export SPARK_GRAFT_SF_DIR=/tmp/skew
    export SPARK_GRAFT_BENCH_ONLY=pipeline_domain_quota_etld
    SPARK_GRAFT_DETAIL_PATH=/tmp/skew_on.json tools/run_main.sh graft.Bench
    export JAVA_TOOL_OPTIONS=-Dspark.sql.optimizer.excludedRules=org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit
    SPARK_GRAFT_DETAIL_PATH=/tmp/skew_off.json tools/run_main.sh graft.Bench
"""
import os
import sys

import duckdb


def main(src, out):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT 11 * i + (i % 3) AS doc_id, text, lang, source, n_chars
              FROM (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS i,
                           * FROM '{src}/documents.parquet'))
        TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    # bool_and, not count(DISTINCT …)==1: the latter is also 1 when every
    # row is uniformly OUTSIDE the bucket, so it never catches a broken
    # remap (r12 ADVICE)
    n, d = con.sql(f"""
        SELECT count(*), bool_and(doc_id % 11 <= 2)
        FROM '{out}/documents.parquet'""").fetchone()
    assert d is True, "skew derivation must put every row in the %11<=2 bucket"
    print(f"{out}/documents.parquet: {n} rows, all doc_id%11<=2")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
