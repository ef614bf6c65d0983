"""Task-skew probe (guide §2.5 / §7.1): run a registry query, then pull
min / median / max task duration and shuffle-read bytes for its heaviest
stages from the Spark UI REST API — the "sort tasks by duration, compare
max to median" audit, scripted. A max/median ratio above ~4-5x on a
shuffle stage is the salting signal; below it, the stage is balanced and
the floor is real work, not a straggler.

Usage: python tools/taskskew.py <query_name> [top_n_stages]
"""
from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from lime_on_spark_spark.plans import registry  # noqa: E402
from lime_on_spark_spark.session import (  # noqa: E402
    OWN_SESSION_CONFS,
    RUNTIME_CONFS,
    launch_confs,
)


def _get(url: str):
    with urllib.request.urlopen(url) as fh:
        return json.load(fh)


def _spark_with_ui() -> SparkSession:
    # get_spark() disables the UI; this probe needs the REST API, so it
    # mirrors get_spark's config with the UI on (probe-only session), on
    # the same driver JVM settings.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.appName("taskskew")
        .master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE", "8"),
        )
        .config("spark.ui.enabled", "true")
    )
    for key, value in {**launch_confs(), **RUNTIME_CONFS, **OWN_SESSION_CONFS}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def main() -> int:
    name = sys.argv[1]
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark_with_ui()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    fn = registry.queries()[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    base = sc.uiWebUrl
    app = sc.applicationId
    stages = _get(f"{base}/api/v1/applications/{app}/stages?status=COMPLETE")
    stages = sorted(
        stages, key=lambda s: -(s.get("executorRunTime") or 0)
    )[:top_n]
    out = []
    for s in stages:
        sid, att = s["stageId"], s["attemptId"]
        try:
            q = _get(
                f"{base}/api/v1/applications/{app}/stages/{sid}/{att}"
                f"/taskSummary?quantiles=0.0,0.5,1.0"
            )
        except Exception as exc:  # noqa: BLE001 — tiny stages may lack data
            print(f"# stage {sid}: no taskSummary ({exc})", file=sys.stderr)
            continue
        dur = q.get("duration") or [0, 0, 0]
        srd = (q.get("shuffleReadMetrics") or {}).get("readBytes") or [0, 0, 0]
        out.append(
            {
                "stage": sid,
                "tasks": s.get("numCompleteTasks"),
                "run_ms": s.get("executorRunTime"),
                "dur_min_med_max_ms": [round(x, 1) for x in dur],
                "max_over_med": round(dur[2] / dur[1], 2) if dur[1] else None,
                "shuffle_read_min_med_max_b": [int(x) for x in srd],
                "name": (s.get("name") or "")[:80],
            }
        )
    print(json.dumps({"query": name, "stages": out}, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
