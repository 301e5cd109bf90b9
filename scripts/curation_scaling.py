"""Scaling curve for the 7-stage curation composite (VERDICT r4 #4).

Replicates the sf0.1 ``documents`` table 2x/5x/10x (fresh doc_ids per
replica; text kept verbatim so every gram/shingle shuffles — replication
scales the dominant shuffle volumes linearly, which is exactly the
quantity under test; the near-dup stages see replica clusters, the
conservative heavy-bucket case) and times a 7-query curation unit
(quality gate → span dedup → MinHash manifest → decontaminate → split)
as one sum.  Other tables
are symlinked unmodified.  Output: one wall-time row per scale plus the
fitted log-log exponent — ~1.0 means the composite is linear in corpus
size; a super-linear stage would show up here before it shows up at
100 TB.

Run:  python scripts/curation_scaling.py   (writes a markdown table to
stdout; paste into COVERAGE.md)
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hours_api_clickup_spark.plans.registry import QUERIES, TABLE_NAMES
from hours_api_clickup_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = (1, 2, 5, 10)
CURATION = (
    "url_canonical_dedup",
    "gopher_quality_filter",
    "dedup_span_ngram",
    "dedup_corpus_manifest",
    "dedup_cross_corpus",
    "decontaminate_corpus",
    "dataset_split_assign",
)
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def make_scaled_dir(root: str, scale: int) -> str:
    d = os.path.join(root, f"x{scale}")
    os.makedirs(d, exist_ok=True)
    for t in TABLE_NAMES:
        src = os.path.join(BASE, f"{t}.parquet")
        if t == "documents" or not os.path.exists(src):
            continue
        os.symlink(src, os.path.join(d, f"{t}.parquet"))
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT doc_id + r.k * (SELECT MAX(doc_id) + 1 FROM
                       read_parquet('{BASE}/documents.parquet')) AS doc_id,
                   text, lang, source, n_chars
            FROM read_parquet('{BASE}/documents.parquet')
            CROSS JOIN (SELECT UNNEST(RANGE({scale})) AS k) r
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return d


def main() -> None:
    spark = get_spark(app_name="curation-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{BASE}/region.parquet").count()

    rows = []
    with tempfile.TemporaryDirectory() as root:
        for scale in SCALES:
            d = make_scaled_dir(root, scale)

            def unit() -> float:
                t0 = time.perf_counter()
                for name in CURATION:
                    df = QUERIES[name].fn(spark, d)
                    df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0

            med = statistics.median(unit() for _ in range(N_RUNS))
            rows.append((scale, med))
            print(f"# x{scale}: {med:.2f}s", file=sys.stderr)

    # least-squares slope in log-log space = scaling exponent
    xs = [math.log(s) for s, _ in rows]
    ys = [math.log(t) for _, t in rows]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )

    print("| docs scale | rows | composite wall (median of %d) |" % N_RUNS)
    print("|---|---|---|")
    con = duckdb.connect()
    n0 = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{BASE}/documents.parquet')"
    ).fetchone()[0]
    con.close()
    for scale, med in rows:
        print(f"| x{scale} | {n0 * scale:,} | {med:.2f} s |")
    print(f"\nfitted log-log exponent: **{slope:.2f}**")




# ---------------------------------------------------------------------------
# build_corpus soak (VERDICT r9 #4/#5): per-STAGE walls at 10k/100k/1M
# docs, proving the staged-parquet lineage pins and the banded dedup
# hold at the largest local scale — plus an optional kill-resume drill.
#
# Run:  python scripts/curation_scaling.py --corpus [--kill-resume]
#       (writes a markdown table to stdout; paste into COVERAGE.md)
# ---------------------------------------------------------------------------

CORPUS_SCALES = (2, 20, 200)  # × 5k sf0.1 docs = 10k / 100k / 1M


def make_scaled_docs(spark, root: str, scale: int) -> str:
    """Replicated documents parquet with a REALISTIC duplicate mix —
    verbatim replication alone would collapse at stage 1 (exact dedup
    keys on normalized text) and every later stage would run at base
    size, soaking nothing. Per original doc, replicas split three ways:

    - rep % 20 == 0 → VERBATIM: exact-dup clusters growing with scale
      (stage 1's hash-groupBy work is linear, so this is safe to
      scale);
    - rep == 1 (exactly ONE per original at every scale) → one appended
      unique token: a near-dup partner for stage 3. Capped at one
      because the base table carries INTRINSIC near-dup families up to
      ~300 members (264k banded candidate pairs at 5k docs, measured):
      any similarity-preserving replication multiplies those families
      and the candidate count grows as C(family·replicas, 2) —
      measured 1.29M candidates at 100k docs with per-original light
      replicas, the quadratic blowup that OOMed the first 1M attempt.
      Real corpora grow VOLUME, not family size; capping keeps the
      near-dup structure constant while the corpus-size axis grows.
    - everything else → a 6-char HASH salt before EVERY word. Shingles
      are CHARACTER 5-grams (dedup.char_shingles), so salts must be
      dense (every boundary) and mutually dissimilar (hash-derived —
      structured salts share their own grams: "u{doc}x{rep}p{i}" left
      replica-vs-replica J ≈ 0.77); measured J ≈ 0.06 → per-band
      collision ≈ 1e-5 → bounded random-pair candidates even across
      the intrinsic families. 6 chars, not 16: a full hex64 token
      pushed mean word length past Gopher's 10.0 cap and the gate
      rejected 98% of heavy docs; at 6 chars the mix keeps the
      original stopwords and sits at ~5.4 mean word length.
    """
    path = os.path.join(root, f"docs_x{scale}.parquet")
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{BASE}/documents.parquet").select(
        "doc_id", "text"
    )
    rep = F.col("rep")
    salt = F.concat(
        F.lit("u"), F.col("doc_id").cast("string"),
        F.lit("x"), rep.cast("string"),
    )
    words = F.split(F.col("text"), r"\s+")
    heavy = F.array_join(
        F.flatten(
            F.transform(
                words,
                lambda w, i: F.array(
                    F.substring(
                        F.lower(F.hex(F.xxhash64(
                            F.col("doc_id"), rep, i
                        ))),
                        1, 6,
                    ),
                    w,
                ),
            )
        ),
        " ",
    )
    text = (
        F.when(rep % 20 == 0, F.col("text"))
        .when(rep == 1, F.concat(F.col("text"), F.lit(" "), salt))
        .otherwise(heavy)
    )
    out = base.crossJoin(
        F.broadcast(spark.range(scale).withColumnRenamed("id", "rep"))
    ).select(
        (F.col("doc_id") * scale + rep).alias("doc_id"),
        text.alias("text"),
    )
    out.repartition(64).write.mode("overwrite").parquet(path)
    return path


def make_scaled_embeddings(spark, root: str, scale: int, docs_path: str) -> str:
    """Deterministic dim-32 embeddings for the scaled corpus: docs in
    the same ``doc_id div 4`` group share an IDENTICAL vector (cos 1 —
    bounded semantic-dup families, ≤4 members at every scale, mirroring
    the near-dup cap rationale above), distinct groups get independent
    hash-derived signed vectors (pairwise cos ≪ 0.9). Docs with
    ``doc_id % 5 == 0`` have NO embedding row, exercising the
    pass-through path at scale."""
    from pyspark.sql import functions as F

    path = os.path.join(root, f"emb_x{scale}.parquet")
    (
        spark.read.parquet(docs_path)
        .filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, 31), j -> "
                "(pmod(xxhash64(doc_id div 4, j), 2001) - 1000) / 1000.0)"
            ).alias("embedding"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def make_scaled_media(spark, root: str, scale: int, docs_path: str) -> str:
    """Media rows for 1/3 of the scaled corpus (real BMP/PPM payloads
    through the actual encoders) plus CORRUPT payloads for
    ``doc_id % 997 == 0`` — the tolerant gate must drop exactly those
    docs while streaming every payload through the decoder once."""
    from pyspark.sql import functions as F

    from hours_api_clickup_spark.datapipe.multimodal import (
        synthesize_coded_media,
    )

    path = os.path.join(root, f"media_x{scale}.parquet")
    docs = spark.read.parquet(docs_path)
    good = synthesize_coded_media(
        docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 997 != 0)),
        "doc_id",
    ).withColumnRenamed("media_id", "doc_id")
    bad = docs.filter(F.col("doc_id") % 997 == 0).select(
        "doc_id",
        F.lit("bmp").alias("fmt"),
        F.lit(b"corrupt payload").alias("content"),
    )
    good.unionByName(bad).repartition(32).write.mode("overwrite").parquet(path)
    return path


def corpus_soak(
    kill_resume: bool = False,
    scales: tuple = CORPUS_SCALES,
    full_families: bool = False,
) -> None:
    from hours_api_clickup_spark import pipelines

    spark = get_spark(app_name="curation-corpus-soak")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{BASE}/region.parquet").count()

    results = []  # (scale, n_docs, manifest)
    with tempfile.TemporaryDirectory() as root:
        bench = (
            spark.read.parquet(f"{BASE}/documents.parquet")
            .select("doc_id", "text")
            .limit(20)
            .localCheckpoint()
        )
        for scale in scales:
            docs_path = make_scaled_docs(spark, root, scale)
            docs = spark.read.parquet(docs_path)
            kw = dict(benchmark=bench, chunk_size=2048, chunks_per_shard=64)
            if full_families:
                emb = spark.read.parquet(
                    make_scaled_embeddings(spark, root, scale, docs_path)
                )
                n_docs_est = 5000 * scale
                kw.update(
                    embeddings=emb,
                    semantic_threshold=0.9,
                    # SemDeDup's own sizing rule: |cluster|² doubles per
                    # task must fit an executor — ~1k-row clusters keep
                    # the GEMM block at ~8 MB regardless of corpus size
                    semantic_clusters=max(16, n_docs_est // 1000),
                    # eval embeddings = 20 group vectors from the live
                    # id range: embedding decontamination must bite
                    benchmark_embeddings=emb.limit(20).select("embedding"),
                    media=spark.read.parquet(
                        make_scaled_media(spark, root, scale, docs_path)
                    ),
                )
            out = os.path.join(root, f"corpus_x{scale}")
            t0 = time.perf_counter()
            manifest = pipelines.build_corpus(docs, out, **kw)
            wall = time.perf_counter() - t0
            n_docs = manifest["stages"]["input"]
            results.append((scale, n_docs, wall, manifest))
            print(f"# x{scale} ({n_docs:,} docs): {wall:.1f}s "
                  f"{manifest['stage_walls']}", file=sys.stderr)

        if kill_resume:
            _kill_resume_drill(spark, root, bench, scale=scales[-1])

    stage_names = list(results[-1][3]["stage_walls"])
    print("| stage | " + " | ".join(
        f"{n:,} docs (s)" for _, n, _, _ in results) + " |")
    print("|---|" + "---|" * len(results))
    for sname in stage_names:
        cells = [f"{m['stage_walls'].get(sname, float('nan')):.1f}"
                 for _, _, _, m in results]
        # log-log exponent across the measured scales
        pts = [
            (math.log(n), math.log(m["stage_walls"][sname]))
            for _, n, _, m in results
            if m["stage_walls"].get(sname, 0) > 0
        ]
        expo = ""
        if len(pts) >= 2:
            mx = sum(x for x, _ in pts) / len(pts)
            my = sum(y for _, y in pts) / len(pts)
            den = sum((x - mx) ** 2 for x, _ in pts)
            if den > 0:
                s = sum((x - mx) * (y - my) for x, y in pts) / den
                expo = f" (exp {s:.2f})"
        print(f"| {sname}{expo} | " + " | ".join(cells) + " |")
    print("| TOTAL | " + " | ".join(
        f"{w:.1f}" for _, _, w, _ in results) + " |")
    print("\nsurvivor counts at the largest scale: "
          + str(results[-1][3]["stages"]))


def _kill_resume_drill(spark, root: str, bench, scale: int = None) -> None:
    """Kill the largest-scale build at stage 5 (id stages committed),
    resume, assert the manifest matches an uninterrupted twin
    (VERDICT r9 #5)."""
    from hours_api_clickup_spark import pipelines
    from hours_api_clickup_spark.datapipe import sampling as sampling_mod

    if scale is None:
        scale = CORPUS_SCALES[-1]
    docs = spark.read.parquet(
        os.path.join(root, f"docs_x{scale}.parquet")
    )
    kw = dict(benchmark=bench, chunk_size=2048, chunks_per_shard=64)
    clean_out = os.path.join(root, f"corpus_x{scale}")  # the soak's build
    import json

    clean = json.load(open(os.path.join(clean_out, "manifest.json")))

    out = os.path.join(root, "corpus_killed")
    real_split = sampling_mod.assign_split

    def boom(*a, **k):
        raise RuntimeError("injected kill at stage 5")

    sampling_mod.assign_split = boom
    t0 = time.perf_counter()
    try:
        try:
            pipelines.build_corpus(docs, out, **kw)
            raise AssertionError("injected kill did not fire")
        except RuntimeError as exc:
            if "injected kill" not in str(exc):
                raise
    finally:
        sampling_mod.assign_split = real_split
    t_killed = time.perf_counter() - t0
    for st in ("01_exact_dedup", "02_quality_gate", "03_near_dedup",
               "04_decontamination"):
        assert os.path.exists(
            os.path.join(out, "_stages", st, "_SUCCESS")
        ), f"stage {st} not committed before the kill"
    assert not os.path.exists(os.path.join(out, "manifest.json"))

    t0 = time.perf_counter()
    resumed = pipelines.build_corpus(docs, out, resume=True, **kw)
    t_resume = time.perf_counter() - t0

    def _no_walls(m):
        return {k: v for k, v in m.items() if k != "stage_walls"}

    assert _no_walls(resumed) == _no_walls(clean), (
        "resumed manifest diverged from the clean build"
    )
    print(
        f"# kill-resume drill at {resumed['stages']['input']:,} docs: "
        f"killed build ran {t_killed:.1f}s (stages 1-4 committed), "
        f"resume finished in {t_resume:.1f}s "
        f"(resumed stage walls: {resumed['stage_walls']}), "
        f"manifest identical to the uninterrupted build — PASS",
        file=sys.stderr,
    )
    print("\nkill-resume drill: PASS — resume from stage 4 of the "
          f"{resumed['stages']['input']:,}-doc build reproduced the "
          f"clean manifest (resume wall {t_resume:.1f}s vs clean "
          "build above)")


if __name__ == "__main__":
    if "--full" in sys.argv:
        # VERDICT r11 #3: the text+embedding+media pipeline as ONE
        # build_corpus call, stage walls at 10k/100k/1M docs
        corpus_soak(
            kill_resume="--kill-resume" in sys.argv, full_families=True
        )
    elif "--corpus2m" in sys.argv:
        # VERDICT r11 #5: the INTEGRATED pipeline at 1M and 2M docs
        # (fresh session) — per-stage exponents across the single-box
        # memory-regime shift, plus the kill-resume drill at 2M
        corpus_soak(kill_resume="--kill-resume" in sys.argv,
                    scales=(200, 400))
    elif "--corpus" in sys.argv:
        corpus_soak(kill_resume="--kill-resume" in sys.argv)
    else:
        main()
