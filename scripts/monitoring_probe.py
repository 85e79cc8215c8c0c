"""Wall-time probe for ``Engine.register_monitoring_views``.  Builds two
tables (a hash-distributed fact with statistics and a round-robin
dimension) and N reports on a fresh local session, then times one cold and
three warm registrations of both tables and one ``Meta.register_views``
call.  For each registration it also counts ``SparkContext.parallelize``
calls, ``SparkSession.sql`` calls (the ``CREATE … VIEW`` statements among
them) and the Spark jobs run under a job group set just before the call.
Prints one JSON line.

Run:  python scripts/monitoring_probe.py [N_REQUESTS]     (default 20)
"""

import collections
import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from sql_data_warehouse_samples_spark.catalog import TableLayout, hash_layout
    from sql_data_warehouse_samples_spark.engine import Engine
    from sql_data_warehouse_samples_spark.session import build_session

    n_requests = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    wh = tempfile.mkdtemp(prefix="monitoring_probe_")
    spark = build_session(
        app_name="monitoring-probe",
        extra_conf={
            "spark.sql.warehouse.dir": wh,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    eng = Engine(spark)
    eng.create_schema("probe")
    eng.create_table_as(
        "probe.fact",
        spark.range(20_000).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS v"),
        hash_layout("id"),
    )
    eng.create_table_as(
        "probe.dim",
        spark.range(7).selectExpr("id AS grp", "concat('g', id) AS name"),
        TableLayout(),
    )
    eng.stats.create_statistics("probe.fact", ["id", "grp"])
    for i in range(n_requests):
        eng.sql(
            f"SELECT grp, COUNT(*) AS n FROM probe.fact WHERE id > {i} GROUP BY grp",
            label=f"report{i}",
        ).collect()
    tables = ["probe.fact", "probe.dim"]

    counts = collections.Counter()
    parallelize, sql = SparkContext.parallelize, SparkSession.sql

    def counted_parallelize(self, *a, **kw):
        counts["parallelize"] += 1
        return parallelize(self, *a, **kw)

    def counted_sql(self, query, *a, **kw):
        counts["sql"] += 1
        counts["create_view"] += bool(re.match(r"(?is)\s*CREATE\b.*?\bVIEW\b", query))
        return sql(self, query, *a, **kw)

    SparkContext.parallelize = counted_parallelize
    SparkSession.sql = counted_sql
    sc = spark.sparkContext
    report = {"requests": n_requests, "tables": tables}
    for k, name in enumerate(["cold", "warm1", "warm2", "warm3"]):
        counts.clear()
        group = f"monitoring-probe-{k}"
        sc.setJobGroup(group, "registration")
        t0 = time.perf_counter()
        eng.register_monitoring_views(tables)
        report[name] = {
            "s": round(time.perf_counter() - t0, 3),
            "parallelize": counts["parallelize"],
            "sql": counts["sql"],
            "create_view": counts["create_view"],
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }
    t0 = time.perf_counter()
    eng.meta.register_views(tables)
    report["meta_register_views_s"] = round(time.perf_counter() - t0, 3)
    SparkContext.parallelize, SparkSession.sql = parallelize, sql
    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
