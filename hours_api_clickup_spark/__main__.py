"""CLI parity with the reference (§2.13).

Mirrors ``fetch_clickup_data.py:1679-1719``:
    --mode refresh|full_reindex --days N
plus the dimension snapshot modes that the reference exposes as HTTP
endpoints (lists/tasks/accounts/apps), plus ``--mode serve`` which
boots the HTTP façade itself (the reference's main.py IS its server
entrypoint). Input is a raw-entry/task NDJSON path (the REST fetch
feeds the same readers in production).

Every sync and maintain mode builds the same ``ServerConfig`` that
``serve`` and ``scheduler`` build (``--out`` is the warehouse root) and
runs through ``server.dispatch``, printing the route's JSON payload —
the reference's routes likewise call its CLI ``main()``
(main.py:35-39), so no entry point has a sync path of its own.
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
    p.add_argument(
        "--out",
        help="sync modes: warehouse root for the fact and dim tables "
        "(default ./warehouse); curate mode: corpus output directory",
    )
    p.add_argument(
        "--backup",
        help="sync modes: CSV backup directory; each sync writes its "
        "batch to {dir}/{mode} as one headered CSV",
    )
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
        help="maintain: compaction target, repeatable — "
        "lsh=/p | ivf=/p[:id_col] | text=/p | docneardup=/p. A target whose "
        "maintenance lease is held reports deferred (retry next sweep).",
    )
    args = p.parse_args(argv)
    needs = {
        "refresh": ("entries",), "full_reindex": ("entries",),
        **dict.fromkeys(("lists", "tasks", "accounts", "apps"), ("tasks",)),
        "serve": ("entries", "tasks"), "scheduler": ("entries", "tasks", "state"),
        "maintain": ("index",), "curate": ("docs", "out"),
    }[args.mode]
    missing = [f"--{n}" for n in needs if not getattr(args, n)]
    if missing:
        p.error(f"--mode {args.mode} requires {', '.join(missing)}")

    from hours_api_clickup_spark.session import get_spark

    def config(spark):
        from hours_api_clickup_spark.server import ServerConfig

        return ServerConfig(
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
            backup_dir=args.backup,
        )

    if args.mode == "scheduler":
        # One scheduler TICK (deploy.sh:66-136 analog): compute the jobs
        # due since the persisted watermarks, dispatch each through
        # server.dispatch, persist the new watermarks. An external
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

        # --index targets opt the tick into the weekly compaction/GC
        # sweep job on top of the reference's six
        jobs = ALL_JOBS if args.index else REFERENCE_JOBS

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
            # json.load — same tmp+rename pattern as publish_file_stats)
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
            ran = run_pending(config(spark), state, now, jobs=jobs)
            _persist_state()
            print(json.dumps({"ticked_at": now.isoformat(), "ran": ran}))
            return 0
        finally:
            spark.stop()

    spark = get_spark(app_name=f"sync-{args.mode}")
    try:
        if args.mode == "curate":
            from hours_api_clickup_spark import pipelines

            # one-command training-corpus build (verdict r7 #6): the
            # 7-stage curation unit over a documents parquet — dedup →
            # quality gate → near-dup clusters → (decontaminate) →
            # split → pack → shards + manifest
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
        if args.mode == "serve":
            from http.server import ThreadingHTTPServer

            from hours_api_clickup_spark.server import make_handler

            srv = ThreadingHTTPServer(
                ("0.0.0.0", args.port), make_handler(config(spark))
            )
            print(json.dumps({"serving": f"0.0.0.0:{srv.server_address[1]}"}))
            srv.serve_forever()
            return 0
        from hours_api_clickup_spark.server import dispatch

        # the sync and maintain modes: one route each, same payload as
        # the HTTP façade. A maintain sweep exits 1 when a target
        # errored (deferred is the designed collision outcome, exit 0)
        route = "/maintain" if args.mode == "maintain" else f"/sync/{args.mode}"
        payload = dispatch(config(spark), route, {})
        print(json.dumps(payload, sort_keys=True))
        return 1 if payload.get("errors") else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
