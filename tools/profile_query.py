"""Per-job/per-stage profile of one registered query (guide §1).

Usage: python tools/profile_query.py <query> [<query> ...]

Replays the bench methodology for the named queries — same session
factory, same fixture warm-up, noop sink — with the Spark event log
enabled, then parses the log into a per-job breakdown of the SECOND
(steady-state) run: job wall, stage count, task time, GC, shuffle
bytes, and the scheduling gaps between jobs. This answers "where do
the seconds of a pinned query actually go" without the UI.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import parse_eventlog  # noqa: E402

EVDIR = "/tmp/spark-events"


def main() -> None:
    names = sys.argv[1:]
    os.makedirs(EVDIR, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    os.environ["SPARK_EVENTLOG"] = "1"

    from scarf_spark.session import get_spark

    # the event-log confs ride in through the gateway launch args; the
    # session factory's own configs apply unchanged on top
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={EVDIR} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    spark = get_spark("scarf-profile")

    import __spark_entry__ as em
    from scarf_spark.catalog import DataStore

    qs = em.queries()
    ds = DataStore(spark, sf_dir)
    em._DS_CACHE[(spark.sparkContext.applicationId, sf_dir)] = ds
    ds.counts().count()
    em._n_cells(ds)
    try:
        em._knn_edges(spark, sf_dir).count()
        em._spectral_emb(spark, sf_dir).count()
        em._feat_knn_edges(spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001
        print(f"fixture warmup failed: {exc}", file=sys.stderr)

    walls = {}
    for name in names:
        fn = qs[name]
        # warm run
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        # measured run
        sc = spark.sparkContext
        sc.setJobDescription(f"PROFILE:{name}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        t1 = time.time()
        sc.setJobDescription(None)
        walls[name] = t1 - t0
        print(f"== {name}: measured wall {t1 - t0:.3f}s")

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(2)
    log_path = os.path.join(EVDIR, app_id)
    if not os.path.exists(log_path):
        # Spark 4 rolling layout: eventlog_v2_<appId>/events_*
        log_path = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
    jobs, stages = parse_eventlog.parse(log_path)
    for name, wall in walls.items():
        print(f"\n==== {name}  wall={wall:.3f}s ====")
        job_sum, gap_sum, n = parse_eventlog.print_jobs(
            jobs, stages, keep=lambda desc, name=name: desc == f"PROFILE:{name}"
        )
        print(
            f"TOTAL job time {job_sum:.3f}s + inter-job gaps {gap_sum:.3f}s"
            f" over {n} jobs (wall {wall:.3f}s)"
        )


if __name__ == "__main__":
    main()
