"""The three closed-loop workloads. One caller drives each: it sends the
next op only after the previous one returned, as the product's own
callers do (the scheduler, or a stream's driver).

Each workload times calls into public entry points from outside:
``server.start_server`` (the HTTP façade on 127.0.0.1),
``pipelines.build_corpus``, and the ``datapipe`` index appends and
probes. It records a span around every call and checks the outputs of
every op against what its seeded generator says they must be.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from tracing import SpanRecorder

#: input sizes, chosen so that 4 + 22 runs of each of the three
#: workloads fit in 3420 s on a 4-core box (README.md, "Sizes")
SYNC_HISTORY = 60_000
SYNC_STAGED = 10_000
SYNC_TASKS = 2_000
CORPUS_DOCS = 2_000
INGEST_VECTORS = 4_000
INGEST_DOCS = 800
INGEST_VEC_BATCH = 100
INGEST_DOC_BATCH = 40  # 5% of the base corpus, fresh ids
TOPK = 10


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total / 1e6


@dataclass
class OpResult:
    #: wall seconds of the op and of its named parts
    walls: dict
    ok: bool = True
    errors: list = field(default_factory=list)
    #: corpus_build only: the manifest's per-stage wall seconds
    stage_walls: dict | None = None

    def check(self, cond: bool, what: str) -> None:
        if not cond:
            self.ok = False
            self.errors.append(what)


class Workload:
    name = ""
    #: the spans each op records, in order
    spans: tuple = ()
    #: untimed ops run after set-up, before the timed loop
    warm_ops = 0
    #: (report name, OpResult.walls key, "p50" or "tail"); op_p50_s,
    #: the median wall of one whole op, is the one every workload has
    report_metrics: tuple = (("op_p50_s", "op_s", "p50"),)

    def __init__(self, spark, root: str, seed: int, rec: SpanRecorder):
        self.spark, self.root, self.seed, self.rec = spark, root, seed, rec
        self.server = None

    def setup(self) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        """Stop the HTTP server, if the workload started one."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def finish(self) -> dict:
        """Untimed checks after the loop; returns report fields."""
        return {}

    def stored_mb(self) -> float:
        raise NotImplementedError

    def post(self, route: str, body: dict | None = None) -> tuple[int, dict]:
        port = self.server.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{route}",
            data=json.dumps(body or {}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=150) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            return exc.code, json.loads(exc.read() or b"{}")


# ---------------------------------------------------------------------------


DIM_ROUTES = ("lists", "tasks", "accounts", "apps")


class WarehouseSync(Workload):
    """POST /sync/refresh, then the four dimension routes."""

    name = "warehouse_sync"
    spans = ("server.sync_refresh", "server.sync_dims")
    warm_ops = 1
    report_metrics = Workload.report_metrics + (
        ("sync_refresh_p50_s", "sync_refresh_s", "p50"),
        ("sync_refresh_tail_s", "sync_refresh_s", "tail"),
        ("sync_dims_p50_s", "sync_dims_s", "p50"),
    )

    def setup(self) -> None:
        from hours_api_clickup_spark import pipelines, server
        from hours_api_clickup_spark.sources.readers import read_raw_time_entries

        self.dir = os.path.join(self.root, "sync")
        self.inp = inputs.write_sync_inputs(
            os.path.join(self.dir, "raw"), self.seed,
            SYNC_HISTORY, SYNC_STAGED, SYNC_TASKS,
        )
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.fact = os.path.join(self.warehouse, "fact_time_entries")
        # history bootstrap: the full-reindex path publishes every row
        pipelines.sync_full_reindex(
            self.spark,
            read_raw_time_entries(self.spark, self.inp.history_path),
            self.fact,
        )
        self.server = server.start_server(
            server.ServerConfig(
                spark=self.spark,
                entries_path=self.inp.staged_path,
                tasks_path=self.inp.tasks_path,
                warehouse=self.warehouse,
                today_oslo=inputs.TODAY,
                refresh_days=inputs.WINDOW_DAYS,
            )
        )
        self.sizes = self.inp.sizes

    def op(self, i: int) -> OpResult:
        res = OpResult(walls={})
        with self.rec.span("server.sync_refresh"):
            code, body = self.post("/sync/refresh")
        res.walls["sync_refresh_s"] = self.rec.spans[-1].wall_s
        res.check(code == 200, f"/sync/refresh returned {code}: {body.get('error')}")
        res.check(
            body.get("rows") == self.inp.expected_fact_rows,
            f"fact rows {body.get('rows')} != {self.inp.expected_fact_rows}",
        )
        with self.rec.span("server.sync_dims"):
            answers = [(r, *self.post(f"/sync/{r}")) for r in DIM_ROUTES]
        res.walls["sync_dims_s"] = self.rec.spans[-1].wall_s
        for route, code, body in answers:
            want = self.inp.expected_dims[f"dim_{route}"]
            res.check(code == 200, f"/sync/{route} returned {code}: {body.get('error')}")
            res.check(body.get("rows") == want, f"dim_{route} rows {body.get('rows')} != {want}")
        res.walls["op_s"] = res.walls["sync_refresh_s"] + res.walls["sync_dims_s"]
        return res

    def finish(self) -> dict:
        at = F.coalesce(F.expr("CAST(unix_millis(at) AS STRING)"), F.lit("null"))
        row = (
            self.spark.read.parquet(self.fact)
            .select(F.crc32(F.concat(F.col("id"), F.lit(":"), at)).alias("h"))
            .agg(F.count("*").alias("n"), F.sum("h").alias("digest"))
            .first()
        )
        ok = (row["n"], row["digest"]) == (
            self.inp.expected_fact_rows, self.inp.expected_digest,
        )
        return {"fact_digest_ok": ok}

    def stored_mb(self) -> float:
        return dir_mb(self.warehouse)


# ---------------------------------------------------------------------------

#: the datapipe functions build_corpus imports when it is called, by the
#: module that defines them, and the manifest stage_walls each one's span
#: must agree with
CORPUS_STAGES = (
    ("curation", "normalized_exact_dedup", ("01_exact_dedup",)),
    ("curation", "gopher_quality_filter", ("02_quality_gate",)),
    ("multimodal", "decode_gate", ("02b_media_gate",)),
    ("dedup", "minhash_lsh_pairs", ("03_near_dedup",)),
    ("similarity", "semantic_dedup", ("03b_semantic_dedup",)),
    ("curation", "decontaminate", ("04_decontamination",)),
    ("curation", "decontaminate_embeddings", ("04b_embedding_decontamination",)),
    ("sampling", "assign_split", ("05_split_write_docs", "06_07_pack_shard")),
)
CORPUS_PRELUDE = "pipelines.build_corpus.prelude"


@contextmanager
def stage_spans(rec: SpanRecorder):
    """Wrap the stage functions so each opens its stage's span when
    build_corpus calls it. A stage commits its ids right after its
    compute function is called, so the span runs to the next one's
    start. Only the first call of each name opens a span: a stage
    function that another calls internally stays inside its caller."""
    import importlib

    saved, opened = [], set()

    def wrap(span_name, fn):
        def wrapper(*args, **kwargs):
            if span_name not in opened:
                opened.add(span_name)
                rec.begin(span_name)
            return fn(*args, **kwargs)

        return wrapper

    for mod_name, fn_name, _ in CORPUS_STAGES:
        mod = importlib.import_module(f"hours_api_clickup_spark.datapipe.{mod_name}")
        orig = getattr(mod, fn_name)
        saved.append((mod, fn_name, orig))
        setattr(mod, fn_name, wrap(f"{mod_name}.{fn_name}", orig))
    rec.begin(CORPUS_PRELUDE)
    try:
        yield
    finally:
        rec.end()
        for mod, fn_name, orig in saved:
            setattr(mod, fn_name, orig)


class CorpusBuild(Workload):
    """One pipelines.build_corpus call on a fresh output directory, with
    no warm-up build: a corpus build is a batch job run in a fresh
    session, so the timed build pays the session's code generation."""

    name = "corpus_build"
    spans = (CORPUS_PRELUDE,) + tuple(f"{m}.{f}" for m, f, _ in CORPUS_STAGES)
    report_metrics = Workload.report_metrics + (
        ("corpus_build_s", "corpus_build_s", "p50"),
    )

    def setup(self) -> None:
        from hours_api_clickup_spark.datapipe.multimodal import synthesize_coded_media

        self.dir = os.path.join(self.root, "corpus")
        self.inp = inputs.write_corpus_inputs(
            os.path.join(self.dir, "in"), self.seed, CORPUS_DOCS
        )
        spark = self.spark
        good = synthesize_coded_media(
            spark.createDataFrame([(i,) for i in self.inp.media_ids], "doc_id long"),
            "doc_id",
        ).withColumnRenamed("media_id", "doc_id")
        bad = spark.createDataFrame(
            [(i, "bmp", b"not an image") for i in self.inp.corrupt_media_ids],
            "doc_id long, fmt string, content binary",
        )
        self.media_path = os.path.join(self.dir, "in", "media.parquet")
        good.unionByName(bad).write.parquet(self.media_path)
        self.sizes = self.inp.sizes
        self.stages = None
        self.out = None

    def op(self, i: int) -> OpResult:
        from hours_api_clickup_spark import pipelines

        read = self.spark.read.parquet
        if self.out is not None:  # keep only the newest build on disk
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.dir, f"out{i}")
        res = OpResult(walls={})
        first = len(self.rec.spans)
        with stage_spans(self.rec):
            manifest = pipelines.build_corpus(
                read(self.inp.docs_path),
                self.out,
                benchmark=read(self.inp.benchmark_path),
                chunk_size=256,
                chunks_per_shard=16,
                embeddings=read(self.inp.embeddings_path),
                semantic_threshold=0.95,
                benchmark_embeddings=read(self.inp.benchmark_embeddings_path),
                media=read(self.media_path),
            )
        spans = self.rec.spans[first:]
        res.walls["op_s"] = spans[-1].t1 - spans[0].t0
        res.walls["corpus_build_s"] = res.walls["op_s"]
        stages = manifest["stages"]
        if self.stages is None:
            self.stages = stages
        res.check(
            stages == self.stages,
            f"manifest stages {stages} != first build {self.stages}",
        )
        res.check(
            stages["input"] == CORPUS_DOCS
            and stages["after_exact_dedup"] == self.inp.expected_after_exact_dedup,
            f"manifest input/exact-dedup counts {stages['input']}/"
            f"{stages['after_exact_dedup']} != generator's {CORPUS_DOCS}/"
            f"{self.inp.expected_after_exact_dedup}",
        )
        counts = [v for k, v in stages.items() if k != "split_counts"]
        res.check(
            counts == sorted(counts, reverse=True)
            and sum(stages["split_counts"].values()) == counts[-1],
            f"manifest stage counts grow or splits do not add up: {stages}",
        )
        res.check(
            len({s.name for s in spans}) == len(CORPUS_STAGES) + 1,
            f"stage spans {[s.name for s in spans]}",
        )
        res.stage_walls = manifest["stage_walls"]
        return res

    def finish(self) -> dict:
        return {"manifest_stages": self.stages}

    def stored_mb(self) -> float:
        return dir_mb(self.out)


# ---------------------------------------------------------------------------


class IndexIngest(Workload):
    """Append a batch to three persisted indexes, probe two of them, and
    POST /maintain over all three. The sweep runs every op (K = 1), so
    every op is the same append + probe + sweep unit."""

    name = "index_ingest"
    spans = (
        "similarity.lsh_index_append",
        "dedup.doc_neardup_index_append",
        "textindex.inverted_index_append",
        "similarity.lsh_probe_topk",
        "textindex.index_term_topk",
        "server.maintain",
    )
    report_metrics = Workload.report_metrics + (
        ("ingest_append_p50_s", "ingest_append_s", "p50"),
        ("ingest_append_tail_s", "ingest_append_s", "tail"),
        ("ingest_probe_p50_s", "ingest_probe_s", "p50"),
        ("maintenance_sweep_s", "maintenance_sweep_s", "p50"),
    )

    def setup(self) -> None:
        from hours_api_clickup_spark import server
        from hours_api_clickup_spark.datapipe.dedup import doc_neardup_index_write
        from hours_api_clickup_spark.datapipe.similarity import lsh_index_write
        from hours_api_clickup_spark.datapipe.textindex import inverted_index_write

        self.dir = os.path.join(self.root, "ingest")
        self.inp = inputs.IngestInputs(
            os.path.join(self.dir, "in"), self.seed, INGEST_VECTORS,
            INGEST_DOCS, INGEST_VEC_BATCH, INGEST_DOC_BATCH,
        )
        idx = os.path.join(self.dir, "idx")
        self.lsh, self.text, self.docs = (
            os.path.join(idx, n) for n in ("lsh", "text", "docneardup")
        )
        read = self.spark.read.parquet
        lsh_index_write(read(self.inp.vectors_path), "embedding", "vec_id", self.lsh, dim=64)
        docs = read(self.inp.docs_path)
        inverted_index_write(docs, "text", "doc_id", self.text)
        doc_neardup_index_write(docs, "doc_id", "text", self.docs)
        self.server = server.start_server(
            server.ServerConfig(
                spark=self.spark,
                entries_path="",
                tasks_path="",
                warehouse=os.path.join(self.dir, "warehouse"),
                maintenance_targets=(
                    f"lsh={self.lsh}", f"text={self.text}", f"docneardup={self.docs}",
                ),
            )
        )
        self.live_terms = dict(self.inp.live_terms)
        self.live_vectors = INGEST_VECTORS
        self.stored_after_first_sweep = None
        self.sizes = self.inp.sizes

    def _write_batch(self, i: int):
        b = self.inp.batch(i)
        bdir = os.path.join(self.dir, "batches", str(i))
        os.makedirs(bdir, exist_ok=True)
        vec_path, doc_path = os.path.join(bdir, "vec.parquet"), os.path.join(bdir, "doc.parquet")
        inputs.write_vectors(vec_path, b.vec_ids, b.vecs, "vec_id")
        inputs.write_docs(doc_path, b.docs)
        return b, vec_path, doc_path

    def op(self, i: int) -> OpResult:
        from hours_api_clickup_spark.datapipe.dedup import doc_neardup_index_append
        from hours_api_clickup_spark.datapipe.similarity import (
            lsh_index_append,
            lsh_probe_topk,
        )
        from hours_api_clickup_spark.datapipe.textindex import (
            index_term_topk,
            inverted_index_append,
            inverted_index_read,
        )

        spark, rec = self.spark, self.rec
        b, vec_path, doc_path = self._write_batch(i)  # untimed: input arrival
        terms = self.inp.query_terms(i)
        res = OpResult(walls={})
        first = len(rec.spans)
        seq = i + 1
        with rec.span("similarity.lsh_index_append"):
            lsh_index_append(
                spark.read.parquet(vec_path), "embedding", "vec_id", self.lsh,
                dim=64, seq=seq,
            )
        with rec.span("dedup.doc_neardup_index_append"):
            doc_neardup_index_append(
                spark.read.parquet(doc_path), self.docs, "doc_id", "text"
            ).count()
        with rec.span("textindex.inverted_index_append"):
            inverted_index_append(
                spark.read.parquet(doc_path), "text", "doc_id", self.text, seq=seq
            )
        appends = rec.spans[first:]
        with rec.span("similarity.lsh_probe_topk"):
            nbrs = lsh_probe_topk(spark, self.lsh, [float(x) for x in b.vecs[0]], k=TOPK).collect()
        with rec.span("textindex.index_term_topk"):
            top = index_term_topk(spark, inverted_index_read(spark, self.text), terms, k=TOPK).collect()
        probes = rec.spans[first + len(appends):]
        with rec.span("server.maintain"):
            code, body = self.post("/maintain")
        spans = rec.spans[first:]
        res.walls["op_s"] = spans[-1].t1 - spans[0].t0
        res.walls["ingest_append_s"] = sum(s.wall_s for s in appends)
        res.walls["ingest_probe_s"] = sum(s.wall_s for s in probes)
        res.walls["maintenance_sweep_s"] = spans[-1].wall_s

        self.live_vectors += len(b.vec_ids)
        self.live_terms.update((d, inputs.term_counts(t)) for d, t in b.docs)
        res.check(
            bool(nbrs) and nbrs[0]["nbr_id"] == b.vec_ids[0],
            f"lsh probe rank 1 is {nbrs[0]['nbr_id'] if nbrs else None}, not {b.vec_ids[0]}",
        )
        got = [(r["doc_id"], r["score"]) for r in top]
        want = inputs.scan_term_topk(self.live_terms, terms, TOPK)
        res.check(got == want, f"text top-k {got} != scan form {want}")
        res.check(code == 200, f"/maintain returned {code}: {body.get('error')}")
        res.check(
            body.get("deferred") == 0 and body.get("errors") == 0,
            f"/maintain deferred/errors: {body.get('results')}",
        )
        self._check_live_counts(res)
        if self.stored_after_first_sweep is None:
            self.stored_after_first_sweep = self._index_mb()
        return res

    def _check_live_counts(self, res: OpResult) -> None:
        read = self.spark.read.parquet
        n_docs = len(self.live_terms)
        vids = read(f"{self.lsh}/base").select("vid").distinct().count()
        res.check(vids == self.live_vectors, f"lsh live vids {vids} != {self.live_vectors}")
        text_docs = read(f"{self.text}/base").select("doc_id").distinct().count()
        res.check(text_docs == n_docs, f"text index docs {text_docs} != {n_docs}")
        sig = read(f"{self.docs}/sig").count()
        res.check(sig == n_docs, f"doc index sig rows {sig} != {n_docs}")

    def _index_mb(self) -> float:
        return sum(dir_mb(p) for p in (self.lsh, self.text, self.docs))

    def stored_mb(self) -> float:
        # taken right after the first sweep, so it measures the same
        # indexed content however many ops the run fitted in
        return self.stored_after_first_sweep or self._index_mb()


WORKLOADS = {w.name: w for w in (WarehouseSync, CorpusBuild, IndexIngest)}
