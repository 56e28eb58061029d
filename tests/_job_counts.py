"""Print the Spark job count, seconds and a row hash of registered queries.

Usage::

    python3 tests/_job_counts.py [SF_DIR] NAME [NAME ...]

``SF_DIR`` defaults to ``$SPARK_GRAFT_SF_DIR``.  Each named query is
built and collected in its own job group on one ``local[2]`` engine
session (``session.get_spark``), and one line is printed per query::

    <name> jobs=<n> s=<seconds> rows=<n> sha=<first 16 hex digits>

``jobs`` counts every Spark job the group ran: the eager actions inside
construction (the rounds of an iterative operator) plus the final
collect.  ``s`` is the wall time of the same span.  ``sha`` hashes the
sorted ``repr`` of the collected rows, so two trees that print the same
hash returned the same rows.  Job counts are exact for a given tree and
data, so they compare across runs and hosts where seconds do not.

The disk tier of the build cache is switched off, as in
``tests/_plan_digest.py``, so a count never depends on what an earlier
run left on disk.  Not collected by pytest (the file name does not start
with ``test_``).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    if not sf_dir or not args:
        sys.exit(__doc__)
    os.environ["SPARK_GRAFT_BUILDCACHE_DIR"] = ""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry
    from stedi_human_balance_redis_kafka_spark_streaming_spark.session import get_spark

    queries = registry.queries()
    unknown = [n for n in args if n not in queries]
    if unknown:
        sys.exit(f"not registered: {' '.join(unknown)}")
    spark = get_spark(app_name="job-counts", cpus=2, shuffle_partitions=2)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        for name in args:
            group = f"job-counts-{name}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                rows = queries[name](spark, sf_dir).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            secs = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sha = hashlib.sha256(
                "\n".join(sorted(map(repr, rows))).encode()
            ).hexdigest()[:16]
            print(
                f"{name} jobs={jobs} s={secs:.2f} rows={len(rows)} sha={sha}",
                flush=True,
            )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
