"""CLI parity with the reference (§2.13).

Mirrors ``fetch_clickup_data.py:1679-1719``:
    --mode refresh|full_reindex --days N
plus the dimension snapshot modes that the reference exposes as HTTP
endpoints (lists/tasks/accounts/apps), plus ``--mode serve`` which
boots the HTTP façade itself (the reference's main.py IS its server
entrypoint). Input is a raw-entry/task NDJSON path (the REST fetch
feeds the same readers in production).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hours_api_clickup_spark")
    p.add_argument(
        "--mode",
        required=True,
        choices=[
            "refresh", "full_reindex", "lists", "tasks", "accounts",
            "apps", "serve", "scheduler", "curate", "maintain",
        ],
    )
    p.add_argument("--days", type=int, default=60)
    p.add_argument("--port", type=int, default=8080, help="serve mode port")
    p.add_argument("--entries", help="raw time-entry NDJSON path")
    p.add_argument("--tasks", help="raw task NDJSON path")
    p.add_argument("--fact", help="fact table path", default="./fact_time_entries")
    p.add_argument("--out", help="dim table output path")
    p.add_argument("--backup", help="CSV backup path")
    p.add_argument(
        "--today-oslo",
        help="civil date anchor (YYYY-MM-DD); defaults to today in Europe/Oslo",
    )
    p.add_argument(
        "--state",
        help="scheduler mode: JSON watermark file (created on first tick)",
    )
    p.add_argument(
        "--now",
        help="scheduler mode: tick time override (ISO-8601, aware); "
        "defaults to the current instant",
    )
    p.add_argument("--docs", help="curate mode: documents parquet path")
    p.add_argument(
        "--benchmark",
        help="curate mode: eval-set parquet to decontaminate against "
        "(same doc_id/text schema); omit to skip decontamination",
    )
    p.add_argument(
        "--embeddings",
        help="curate mode: per-doc embeddings parquet (doc_id + "
        "embedding array) — enables the SemDeDup semantic-dedup stage",
    )
    p.add_argument(
        "--benchmark-embeddings",
        help="curate mode: eval-set embeddings parquet to decontaminate "
        "against in embedding space (requires --embeddings)",
    )
    p.add_argument(
        "--media",
        help="curate mode: per-doc media parquet (doc_id + fmt + "
        "content binary) — enables the multimodal decode gate",
    )
    p.add_argument(
        "--chunk-size", type=int, default=2048, help="curate: tokens/chunk"
    )
    p.add_argument(
        "--chunks-per-shard", type=int, default=64,
        help="curate: chunks per training shard",
    )
    p.add_argument(
        "--resume", action="store_true",
        help="curate: restart a crashed build from its last committed "
        "stage (refuses if parameters or input changed)",
    )
    p.add_argument(
        "--lock-wait-s", type=float, default=0.0,
        help="how long a sync waits for the fact/dim table lock when it "
        "collides with another writer's hold (streaming batch, racing "
        "sync) before refusing loudly; 0 = refuse immediately",
    )
    p.add_argument(
        "--lease-ttl-s", type=int, default=None,
        help="staleness ttl for the table lock (seconds); default "
        "storage.LEASE_TTL_SEC (3600). A holder past the ttl with no "
        "heartbeat is presumed crashed and taken over",
    )
    p.add_argument(
        "--index", action="append", default=[], metavar="FAMILY=PATH[:OPT]",
        help="maintain: compaction/GC target, repeatable — "
        "lsh=/p | ivf=/p[:id_col] | text=/p | docneardup=/p | "
        "store=/p[:keep] | snapshots=/p[:keep]. A target whose "
        "maintenance lease is held reports deferred (retry next sweep).",
    )
    args = p.parse_args(argv)

    from hours_api_clickup_spark import pipelines
    from hours_api_clickup_spark.session import get_spark
    from hours_api_clickup_spark.sources.readers import (
        read_raw_tasks,
        read_raw_time_entries,
    )

    if args.mode == "scheduler":
        # One scheduler TICK (deploy.sh:66-136 analog): compute the jobs
        # due since the persisted watermarks, dispatch each through the
        # HTTP routes' seam, persist the new watermarks. An external
        # cron / systemd timer / while-sleep loop calls this; catch-up
        # is at-most-once per job per outage. Due-ness is pure datetime
        # math, so the SparkSession is created ONLY when a job actually
        # dispatches — an idle 5-minute tick costs no JVM startup
        # (review r6).
        import os

        from hours_api_clickup_spark.scheduler import (
            ALL_JOBS,
            OSLO,
            REFERENCE_JOBS,
            SchedulerState,
            due_jobs,
            run_pending,
        )
        from hours_api_clickup_spark.server import ServerConfig

        # --index targets opt the tick into the weekly compaction/GC
        # sweep job on top of the reference's six
        jobs = ALL_JOBS if args.index else REFERENCE_JOBS

        if not args.entries or not args.tasks or not args.state:
            p.error("--entries, --tasks and --state are required "
                    "for scheduler")
        now = (
            dt.datetime.fromisoformat(args.now)
            if args.now
            else dt.datetime.now(OSLO)
        )
        if now.tzinfo is None:
            now = now.replace(tzinfo=OSLO)
        if os.path.exists(args.state):
            blob = json.load(open(args.state))
            state = SchedulerState(
                started_at=dt.datetime.fromisoformat(blob["started_at"]),
                last_fire={
                    k: dt.datetime.fromisoformat(v)
                    for k, v in blob["last_fire"].items()
                },
            )
        else:
            state = SchedulerState(started_at=now)

        def _persist_state() -> None:
            # atomic replace: a kill mid-write must never leave a
            # truncated state file (every later tick would crash in
            # json.load — same tmp+rename pattern as publish_manifest)
            tmp = args.state + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "started_at": state.started_at.isoformat(),
                        "last_fire": {
                            k: v.isoformat()
                            for k, v in state.last_fire.items()
                        },
                    },
                    f,
                )
            os.replace(tmp, args.state)

        if not due_jobs(state, now, jobs=jobs):
            _persist_state()  # create/refresh the watermark file
            print(json.dumps({"ticked_at": now.isoformat(), "ran": []}))
            return 0
        spark = get_spark(app_name="sync-scheduler")
        try:
            cfg = ServerConfig(
                spark=spark,
                entries_path=args.entries,
                tasks_path=args.tasks,
                warehouse=args.out or "./warehouse",
                today_oslo=(
                    dt.date.fromisoformat(args.today_oslo)
                    if args.today_oslo
                    else None
                ),
                refresh_days=args.days,
                maintenance_targets=tuple(args.index),
                lock_wait_s=args.lock_wait_s,
                lease_ttl_s=args.lease_ttl_s,
            )
            ran = run_pending(cfg, state, now, jobs=jobs)
            _persist_state()
            print(json.dumps({"ticked_at": now.isoformat(), "ran": ran}))
            return 0
        finally:
            spark.stop()

    spark = get_spark(app_name=f"sync-{args.mode}")
    try:
        if args.mode == "curate":
            # one-command training-corpus build (verdict r7 #6): the
            # 7-stage curation unit over a documents parquet — dedup →
            # quality gate → near-dup clusters → (decontaminate) →
            # split → pack → shards + manifest
            if not args.docs or not args.out:
                p.error("--docs and --out are required for curate")
            docs = spark.read.parquet(args.docs)
            bench = (
                spark.read.parquet(args.benchmark)
                if args.benchmark
                else None
            )
            manifest = pipelines.build_corpus(
                docs,
                args.out,
                benchmark=bench,
                chunk_size=args.chunk_size,
                chunks_per_shard=args.chunks_per_shard,
                resume=args.resume,
                embeddings=(
                    spark.read.parquet(args.embeddings)
                    if args.embeddings
                    else None
                ),
                benchmark_embeddings=(
                    spark.read.parquet(args.benchmark_embeddings)
                    if args.benchmark_embeddings
                    else None
                ),
                media=(
                    spark.read.parquet(args.media) if args.media else None
                ),
            )
            print(json.dumps(manifest, sort_keys=True))
            return 0
        if args.mode == "maintain":
            # one compaction/GC sweep over persisted indexes and
            # versioned stores — the scheduled-cadence glue the LSM
            # ingest topology assumes; per-target isolation, held
            # leases report deferred
            if not args.index:
                p.error("--index FAMILY=PATH[:OPT] required for maintain")
            results = pipelines.run_maintenance(spark, args.index)
            print(json.dumps(results, sort_keys=True))
            return 0 if all(
                r["status"] in ("ok", "deferred") for r in results
            ) else 1
        if args.mode == "serve":
            from http.server import ThreadingHTTPServer

            from hours_api_clickup_spark.server import (
                ServerConfig,
                make_handler,
            )

            if not args.entries or not args.tasks:
                p.error("--entries and --tasks are required for serve")
            cfg = ServerConfig(
                spark=spark,
                entries_path=args.entries,
                tasks_path=args.tasks,
                warehouse=args.out or "./warehouse",
                today_oslo=(
                    dt.date.fromisoformat(args.today_oslo)
                    if args.today_oslo
                    else None
                ),
                refresh_days=args.days,
                maintenance_targets=tuple(args.index),
                lock_wait_s=args.lock_wait_s,
                lease_ttl_s=args.lease_ttl_s,
            )
            srv = ThreadingHTTPServer(("0.0.0.0", args.port), make_handler(cfg))
            print(json.dumps({"serving": f"0.0.0.0:{srv.server_address[1]}"}))
            srv.serve_forever()
            return 0
        if args.mode in ("refresh", "full_reindex"):
            if not args.entries:
                p.error("--entries is required for refresh/full_reindex")
            raw = read_raw_time_entries(spark, args.entries)
            if args.mode == "refresh":
                from zoneinfo import ZoneInfo

                # the Europe/Oslo date, NOT the host timezone's — a UTC
                # host between 22:00Z and midnight is already on the
                # next Oslo day (CURRENT_DATE('Europe/Oslo') parity)
                today = (
                    dt.date.fromisoformat(args.today_oslo)
                    if args.today_oslo
                    else dt.datetime.now(ZoneInfo("Europe/Oslo")).date()
                )
                res = pipelines.sync_refresh(
                    spark, raw, args.fact, today, args.days, args.backup
                )
            else:
                res = pipelines.sync_full_reindex(
                    spark, raw, args.fact, args.backup
                )
        else:
            if not args.tasks:
                p.error("--tasks is required for dimension syncs")
            raw = read_raw_tasks(spark, args.tasks)
            if args.mode == "lists":
                from hours_api_clickup_spark.operators.hierarchy import (
                    select_raw_lists,
                )

                # one definition shared with server.py (normalized
                # before distinct — review r6)
                raw = select_raw_lists(raw)
            elif args.mode == "accounts":
                from pyspark.sql import functions as F

                from hours_api_clickup_spark.operators.hierarchy import (
                    ACCOUNTS_CUSTOM_ITEM_ID,
                )

                raw = raw.filter(
                    F.col("custom_item_id") == ACCOUNTS_CUSTOM_ITEM_ID
                )
            out = args.out or f"./dim_{args.mode}"
            sync = getattr(pipelines, f"sync_{args.mode}")
            res = sync(raw, out, args.backup)
        print(json.dumps({"table": res.table, "rows": res.rows, "mode": res.mode}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
