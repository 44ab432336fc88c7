"""Targeted query timing: cold + N warm noop-sink walls in one fresh
session, for before/after A-B of individual optimizations.

Usage: python tools/qtime.py <query> [query ...] [--warm N] [--sf DIR] [--batches]
Prints one line per query: cold wall then the warm walls (min last).

``--batches`` adds, under each query's line, one line per micro-batch a
stream drain (``streaming/events.py::run_stream_to_parquet``) ran
during its passes: the batch's ``numInputRows`` and its
``triggerExecution`` and ``addBatch`` durations in ms, as the drain
session's ``StreamingQueryListener`` events report them.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    warm_n = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    batches = None
    i = 0
    while i < len(args):
        if args[i] == "--batches":
            batches = []; i += 1
        elif args[i] == "--warm":
            warm_n = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    import __spark_entry__ as entry
    from flat_file_social_media_database_engine_spark.session import build_session

    spark = build_session("qtime")
    if batches is not None:
        from flat_file_social_media_database_engine_spark.streaming.events import (
            _drain_session,
        )

        listen_to_batches(_drain_session(spark), batches)
    qs = entry.queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        walls = []
        for k in range(1 + warm_n):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        warm = walls[1:]
        wmin = f" warm_min={min(warm):.3f}" if warm else ""
        print(f"{name}: cold={walls[0]} warm={warm}{wmin}", flush=True)
        if batches is not None:
            # listener events arrive on Spark's listener bus thread
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            for k, (rows, trigger_ms, add_ms) in enumerate(batches):
                print(
                    f"  batch {k}: numInputRows={rows}"
                    f" triggerExecution={trigger_ms} addBatch={add_ms}",
                    flush=True,
                )
            batches.clear()
    return 0


def listen_to_batches(session, out: list):
    """Append (numInputRows, triggerExecution ms, addBatch ms) to ``out``
    for every micro-batch of every stream ``session`` runs; returns the
    listener (``session.streams.removeListener`` detaches it)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            out.append((p.numInputRows, d.get("triggerExecution"), d.get("addBatch")))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Batches()
    session.streams.addListener(listener)
    return listener


if __name__ == "__main__":
    raise SystemExit(main())
