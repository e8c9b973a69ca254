"""State-store provider measurement (VERDICT r13 next #4).

Times the five stateful streaming keys under the default (HDFS-backed)
state store vs RocksDB, per scale factor — the engine-level decision the
r13 round deferred because at sf0.1 the state is tiny. Each query runs
with a fresh checkpoint (the provider is pinned per query AT FIRST START
by the checkpoint, so a per-run ephemeral checkpoint makes the conf
honest), warm-up + min-of-3 exactly like the bench.

Run (one provider per process, quiet host):

    python tests/statestore_probe.py /root/testdata/sf0.1 default
    python tests/statestore_probe.py /root/testdata/sf0.1 rocksdb
    python tests/statestore_probe.py /tmp/sf1 default
    python tests/statestore_probe.py /tmp/sf1 rocksdb
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cpt_database_sync_spark.session import get_spark  # noqa: E402

KEYS = [
    "stream_join_outer",
    "stream_sessionize_stateful",
    "stream_concurrency",
    "stream_interval_coverage",
    "stream_holt",
]
ROCKS = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def main() -> None:
    from cpt_database_sync_spark.plans.registry import all_specs  # noqa: PLC0415

    sf_dir = sys.argv[1]
    provider = sys.argv[2]
    keys = sys.argv[3:] or KEYS  # optional subset for focused re-probes
    # check the keys before the session starts: a typo should cost
    # nothing and name what would have been accepted
    specs = all_specs()
    unknown = [k for k in keys if k not in specs]
    if unknown:
        sys.exit(
            f"unknown key(s): {', '.join(unknown)}\n"
            f"valid keys: {', '.join(sorted(specs))}"
        )
    spark = get_spark(app_name=f"statestore-{provider}")
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKS
        )
    out = {}
    for k in keys:
        fn = specs[k].fn
        fn(spark, sf_dir).count()  # warm (codegen, source listing)
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        out[k] = {"min": round(min(samples), 3), "rows": n}
    print(
        json.dumps(
            {
                "provider": provider,
                "sf_dir": sf_dir,
                "loadavg": round(os.getloadavg()[0], 2),
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
