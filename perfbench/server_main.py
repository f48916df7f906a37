"""Server process of the benchmark: seed a store, then serve it over REST.

    python3 perfbench/server_main.py --root DIR --events DIR [--id-index]

It builds what ``python -m factstore_spark serve`` builds (a SparkSession,
a ``FactStore`` on ``--root`` and a ``FactStoreServer``), after seeding
the store in the same process so a run pays one JVM start. The seed is
``events.parquet`` under ``--events``, ingested with ``append_dataframe``
and maintained once, so the tag index covers the seed (and, with
``--id-index``, the id index too).

When ready it prints ``{"port": ...}``; then it answers one command per
line on stdin with one JSON line on stdout:

    trace on | trace off   enable or disable the span wrappers
    dump PATH              write spans to PATH, return Spark job stats
    count                  number of facts in the store (from its commit log)
    quit (or end of input) stop serving and exit
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STORE = "bench"


def _reply(obj) -> None:
    print(json.dumps(obj), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--id-index", action="store_true")
    ap.add_argument("--traceable", action="store_true", help="install the span wrappers (off until 'trace on')")
    args = ap.parse_args()

    from factstore_spark.server import FactStoreServer
    from factstore_spark.session import get_spark
    from factstore_spark.sources.events import events_as_facts
    from factstore_spark.store import FactStore

    spark = get_spark(app_name="perfbench-server")
    spark.sparkContext.setLogLevel("ERROR")
    seeder = FactStore(spark, args.root)
    seeder.create(STORE)
    seeder.append_dataframe(STORE, events_as_facts(spark, args.events))
    seeder.maintain(STORE)
    if args.id_index:
        seeder.build_id_index(STORE)

    tracer = None
    if args.traceable:
        from tracer import Tracer, spark_job_stats

        tracer = Tracer(spark).install()
    # a fresh handle, as a restarted server would open the seeded root
    fs = FactStore(spark, args.root)
    srv = FactStoreServer(fs).start()
    _reply({"port": srv.port})
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "trace" and tracer is not None:
                tracer.enabled = arg == "on"
                _reply({"trace": tracer.enabled})
            elif cmd == "dump" and tracer is not None:
                tracer.enabled = False
                n = tracer.dump(arg)
                _reply({"spans": n, "spark": spark_job_stats(spark)})
            elif cmd == "count":
                _reply({"facts": fs.describe_store(STORE)["n_rows"]})
            elif cmd == "quit":
                break
            else:
                _reply({"error": f"unknown command {line.strip()!r}"})
    finally:
        srv.stop()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
