"""Print one analyzed-plan digest per registered query.

Usage::

    python3 tests/_plan_digest.py [SF_DIR]    # default /root/testdata/sf0.001

Builds every registered query in registry order and prints
``<name> <sha256>``, where the hash is over the JSON form of
``queryExecution().analyzed()`` with the expression ids (``"id"`` and
``"jvmId"`` fields) and temp views' ``"createTime"`` stripped.  The
JSON form spells out every argument and child; the string form does
not, because Spark's tree string cuts long argument lists at
``spark.sql.debug.maxToStringFields`` (default 25), which hides all but
the first columns of a dim-wide projection.  Two trees that print the
same listing hand Spark the same analyzed plans, so a refactor of how
plans are BUILT is shown to leave them unchanged.

A result that an operator checkpoints (graph fixpoints, some dedup
clusterings) is a ``LogicalRDD`` leaf in its analyzed plan: its digest
covers the plan from that leaf to the output, not the plans that
computed the checkpointed data, so identical digests say nothing about
what ran before the checkpoint (oracle parity covers that).

The disk tier of the build cache is switched off, so every index build
runs in this process and the listing does not depend on what an earlier
run left on disk.  A query whose construction raises prints
``<name> ERROR <exception type>`` (traceback on stderr).

Not collected by pytest (the file name does not start with ``test_``).
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = re.compile(r'"(?:id":\d+|jvmId":"[^"]*"|createTime":\d+)')


def digest(df) -> str:
    plan = df._jdf.queryExecution().analyzed().toJSON()
    return hashlib.sha256(_IDS.sub("", plan).encode()).hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    os.environ["SPARK_GRAFT_BUILDCACHE_DIR"] = ""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry
    from stedi_human_balance_redis_kafka_spark_streaming_spark.session import get_spark

    spark = get_spark(app_name="plan-digest", cpus=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name, fn in registry.queries().items():
            try:
                line = digest(fn(spark, sf_dir))
            except Exception as e:  # noqa: BLE001 — report, keep going
                traceback.print_exc()
                line = f"ERROR {type(e).__name__}"
            print(name, line, flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
