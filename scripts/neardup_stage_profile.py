"""Stage-03 (near-dedup) A/B at the 1M-doc soak shape (VERDICT r10 #4)
plus fresh-session Gopher-gate re-measures (VERDICT r10 #5).

``--stage3-ab [--scale N]`` (default 200 → 1M docs): replays stages
01+02 on the soak's replica mix, pins the stage-03 input to parquet,
then times the FULL stage-03 unit (pairs → clusters → survivor-ids
write, the same work ``build_corpus._stage`` walls) once per
verification mode:

- shipped — ``minhash_lsh_pairs(rejoin_grams=False)``: gram sets ride
  the signing shuffle (the pre-r11 form; ≈25 GB through one shuffle +
  checkpoint at 1M docs);
- rejoin  — ``rejoin_grams=True``: thin signing shuffle (K longs/doc),
  gram sets re-derived for candidate docs only via one extra
  semi-joined corpus scan.

Survivor counts are asserted equal (the rewrite is physical-only; the
sf0.001 identity test is tests/test_datapipe_quality.py).

``--gate-fresh --scale N``: docs → stage 01 → timed stage 02 in THIS
process — run once per scale in a fresh interpreter to replace the
soak's warm-session 100k gate number (its own caveat: 6.9s in-soak vs
14.6s fresh).

Run on an idle box; ~30 min for the 1M A/B.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.curation_scaling import make_scaled_docs  # noqa: E402

from hours_api_clickup_spark.session import get_spark  # noqa: E402

IPN_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def _prep(spark, root: str, scale: int):
    """docs → stage-01 → stage-02 survivors, pinned to parquet the way
    build_corpus pins every stage boundary. Returns (docs_df, walls)."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.curation import (
        gopher_quality_filter,
        normalized_exact_dedup,
    )

    docs = spark.read.parquet(make_scaled_docs(spark, root, scale))
    n_in = docs.count()
    # mirror build_corpus's volume-proportional shuffle granularity
    spark.conf.set(
        IPN_KEY,
        str(max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                min(1024, n_in // 4000))),
    )
    walls = {"input": n_in}

    t0 = time.perf_counter()
    s1 = os.path.join(root, "ids_01")
    normalized_exact_dedup(docs, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    ).write.mode("overwrite").parquet(s1)
    docs = docs.join(
        spark.read.parquet(s1).select("doc_id"), "doc_id", "left_semi"
    )
    walls["01_exact_dedup"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    s2 = os.path.join(root, "ids_02")
    gopher_quality_filter(docs, "doc_id", "text").filter(
        F.col("keep")
    ).select("doc_id").write.mode("overwrite").parquet(s2)
    walls["02_quality_gate"] = round(time.perf_counter() - t0, 1)

    # the stage-03 input, lineage-pinned exactly like _stage's read-back
    s2_docs = os.path.join(root, "docs_02")
    docs.join(
        spark.read.parquet(s2).select("doc_id"), "doc_id", "left_semi"
    ).write.mode("overwrite").parquet(s2_docs)
    docs = spark.read.parquet(s2_docs)
    walls["gate_survivors"] = docs.count()
    return docs, walls


def stage3_ab(scale: int, modes: tuple = ("shipped", "rejoin")) -> None:
    from hours_api_clickup_spark.datapipe.clusters import dup_survivors
    from hours_api_clickup_spark.datapipe.dedup import minhash_lsh_pairs

    spark = get_spark(app_name="neardup-stage3-ab")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as root:
        docs, walls = _prep(spark, root, scale)
        print(f"# prep: {walls}", file=sys.stderr)

        results = {}
        for mode, rejoin in (("shipped", False), ("rejoin", True)):
            if mode not in modes:
                continue
            out = os.path.join(root, f"ids_03_{mode}")
            t0 = time.perf_counter()
            pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", k=5, num_hashes=64, bands=16,
                threshold=0.7, rejoin_grams=rejoin,
            ).select("id_a", "id_b")
            dup_survivors(docs.select("doc_id"), pairs, "doc_id").write.mode(
                "overwrite"
            ).parquet(out)
            wall = round(time.perf_counter() - t0, 1)
            n = spark.read.parquet(out).count()
            results[mode] = (wall, n)
            print(f"# stage3 {mode}: {wall}s, {n:,} survivors",
                  file=sys.stderr)

        if len(results) == 2:
            assert results["shipped"][1] == results["rejoin"][1], results
        cells = " | ".join(
            f"{m} {w}s ({n:,} survivors)" for m, (w, n) in results.items()
        )
        print(f"| scale x{scale} | input {walls['input']:,} | "
              f"gate survivors {walls['gate_survivors']:,} | {cells} |")


def gate_fresh(scale: int) -> None:
    spark = get_spark(app_name=f"gate-fresh-x{scale}")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as root:
        _, walls = _prep(spark, root, scale)
        print(f"| gate-fresh x{scale} | input {walls['input']:,} | "
              f"01 {walls['01_exact_dedup']}s | "
              f"02 {walls['02_quality_gate']}s |")


if __name__ == "__main__":
    scale = 200
    if "--scale" in sys.argv:
        scale = int(sys.argv[sys.argv.index("--scale") + 1])
    if "--stage3-ab" in sys.argv:
        modes = ("shipped", "rejoin")
        if "--modes" in sys.argv:
            modes = tuple(
                sys.argv[sys.argv.index("--modes") + 1].split(",")
            )
        stage3_ab(scale, modes)
    elif "--gate-fresh" in sys.argv:
        gate_fresh(scale)
    else:
        print(__doc__)
