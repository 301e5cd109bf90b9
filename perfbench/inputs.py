"""Seeded input generators for the three workloads.

Everything here is plain Python (``random``/``numpy``/``pyarrow``): the
program under test receives only the files these functions write, and
the same seed always writes the same files. Each generator also returns
what a correct run must produce, computed independently of Spark, so the
workloads can check outputs without trusting the engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import zlib
from dataclasses import dataclass
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OSLO = ZoneInfo("Europe/Oslo")
UTC = dt.timezone.utc

#: fixed ``today_oslo``: the 60-day window [2026-02-19, 2026-04-20]
#: contains the 2026-03-29 Europe/Oslo DST change (01:00 UTC)
TODAY = dt.date(2026, 4, 20)
WINDOW_DAYS = 60
DST_CHANGE_MS = int(dt.datetime(2026, 3, 29, 1, 0, tzinfo=UTC).timestamp() * 1000)
HISTORY_DAYS = 365
_DAY_MS = 86_400_000

ACCOUNT_ITEM = 1001  # operators.hierarchy.ACCOUNTS_CUSTOM_ITEM_ID
APP_ITEM = 1005  # operators.hierarchy.APPS_CUSTOM_ITEM_ID

VOCAB = (
    "spark batch part line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join customer index shard commit lease plan task stage "
    "shuffle write read cache memory disk driver worker cluster record "
    "schema parquet footer bucket probe token sketch sample split pack"
).split()
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")
TOKEN_RE = re.compile(r"[^a-z0-9]+")


def _ms(d: dt.datetime) -> int:
    return int(d.timestamp() * 1000)


def oslo_date(ms: int) -> dt.date:
    return dt.datetime.fromtimestamp(ms / 1000, OSLO).date()


def entry_digest(entry_id: str, at_ms: int | None) -> int:
    """Per-row term of the order-independent fact digest; the workload
    computes the same sum in Spark with ``crc32(id || ':' || at_ms)``."""
    at = "null" if at_ms is None else str(at_ms)
    return zlib.crc32(f"{entry_id}:{at}".encode())


# ---------------------------------------------------------------------------
# warehouse_sync: raw ClickUp-shaped time entries and tasks
# ---------------------------------------------------------------------------


@dataclass
class SyncInputs:
    history_path: str
    staged_path: str
    tasks_path: str
    sizes: dict
    expected_fact_rows: int
    expected_digest: int
    expected_dims: dict


def _hierarchy(rng: random.Random, n_lists: int):
    """(space, folder, list) tuples; every fifth list is folder-less."""
    out = []
    for i in range(n_lists):
        space = f"sp{i % 4}"
        folder = None if i % 5 == 4 else f"fo{i % 12}"
        out.append(
            {
                "space_id": space,
                "space_name": f"Space {space}",
                "folder_id": folder,
                "folder_name": None if folder is None else f"Folder {folder}",
                "list_id": f"li{i}",
                "list_name": f"List {i}",
            }
        )
    rng.shuffle(out)
    return out


def _raw_task(rng: random.Random, i: int, lst: dict, lists: list) -> tuple[dict, int]:
    """One raw task and the number of dim_accounts rows it yields."""
    kind = i % 20
    item = ACCOUNT_ITEM if kind == 0 else APP_ITEM if kind == 1 else None
    fields = []
    account_rows = 0
    if item == ACCOUNT_ITEM:
        n_conn = rng.choice((0, 0, 1, 2, 3))
        conn = [rng.choice(lists)["list_id"] for _ in range(n_conn)]
        # spaces, empty tokens and the '' no-connection case
        text = " , ".join(conn) + (" ," if rng.random() < 0.3 else "")
        fields += [
            {"id": "connected_lists", "value": text},
            {"id": "hours_discount", "value": rng.choice(("10", "x", "2.5"))},
            {"id": "arr", "value": str(rng.randint(0, 90000))},
        ]
        account_rows = max(1, len(conn))
    elif item == APP_ITEM:
        fields += [
            {
                "id": "linked_accounts",
                "value_links": [
                    {"id": f"tk{rng.randrange(0, 10**6, 20)}"}
                    for _ in range(rng.randint(0, 2))
                ],
            },
            {"id": "arr", "value": str(rng.randint(0, 50000))},
            {"id": "last_updated", "value": str(1_700_000_000_000 + i)},
            {"id": "maintenance", "value": rng.choice(("true", "false"))},
        ]
    closed = rng.random() < 0.2
    task = {
        "id": f"tk{i}",
        "name": f"Task {i}",
        "status": {
            "status": "done" if closed else "open",
            "type": "closed" if closed else "open",
        },
        "time_estimate": rng.choice((None, 3_600_000, 5_400_000, 7_200_000)),
        "url": f"https://app.example/t/tk{i}",
        "archived": rng.random() < 0.05,
        "custom_item_id": item,
        "custom_fields": fields,
        "assignees": [{"username": f"user{rng.randint(0, 30)}"}],
        "date_created": str(1_690_000_000_000 + i * 1000),
        **lst,
    }
    return task, account_rows


def _task_fragment(task: dict, i: int) -> str:
    """The task, task_location and task_url members of an entry line."""
    return json.dumps(
        {
            "task_url": task["url"],
            "task": {
                "id": task["id"],
                "name": task["name"],
                "custom_type": None,
                "custom_id": None,
                "status": {
                    "status": task["status"]["status"],
                    "color": "#87909e",
                    "type": task["status"]["type"],
                    "orderindex": str(i % 5),
                },
            },
            "task_location": {
                "list_id": task["list_id"],
                "folder_id": task["folder_id"],
                "space_id": task["space_id"],
            },
        },
        separators=(",", ":"),
    )[1:-1]


def _user_fragment(user: int) -> str:
    return json.dumps(
        {
            "billable": ("true", "1", "false", "yes")[user % 4],
            "user": {
                "id": f"u{user}",
                "username": f"user{user}",
                # '' exercises the null sha256 path
                "email": "" if user % 13 == 0 else f"user{user}@example.com",
                "color": "#7b68ee",
                "initials": "US",
                "profilePicture": None,
            },
        },
        separators=(",", ":"),
    )[1:-1]


def _entry_line(entry_id: str, start_ms: int, at_ms: int | None, task: str, user: int, user_frag: str, desc: str) -> str:
    """One raw time entry (FIXTURES A1 shape) as a JSON line; ``task`` and
    ``user_frag`` are the pre-serialized fragments above."""
    dur = 900_000 * (1 + user % 8)
    at = "null" if at_ms is None else f'"{at_ms}"'
    return (
        f'{{"id":"{entry_id}","start":"{start_ms}","end":"{start_ms + dur}",'
        f'"duration":"{dur}","at":{at},"is_locked":"false",'
        f'"description":"{desc}","source":"api","approval_id":null,'
        f"{task},{user_frag}}}\n"
    )


def _start_ms(rng: random.Random, day: dt.date) -> int:
    """A start instant on ``day`` (UTC calendar). One in ten lands in the
    last two UTC hours, where the Oslo date is already the next day."""
    base = _ms(dt.datetime.combine(day, dt.time(0, 0), tzinfo=UTC))
    if rng.random() < 0.1:
        return base + rng.randrange(22 * 3_600_000, _DAY_MS)
    return base + rng.randrange(6 * 3_600_000, 18 * 3_600_000)


def write_sync_inputs(
    root: str, seed: int, n_history: int, n_staged: int, n_tasks: int
) -> SyncInputs:
    """History (``HISTORY_DAYS`` back from ``TODAY``), the staged refresh
    file and the task feed, as nested JSONL in the raw API shape.

    The staged file covers the refresh window. About half of its ids
    update history ids; some ids repeat with a later ``at`` (and a few
    with a null ``at``, which wins keep-latest); some starts straddle the
    DST change; a few fall one day before the window and must be
    ignored by the windowed MERGE."""
    rng = random.Random(seed)
    lists = _hierarchy(rng, max(8, n_tasks // 40))
    tasks, account_rows = [], 0
    for i in range(n_tasks):
        t, n_acc = _raw_task(rng, i, lists[i % len(lists)], lists)
        tasks.append(t)
        account_rows += n_acc
    used_lists = {t["list_id"] for t in tasks}

    lo = TODAY - dt.timedelta(days=WINDOW_DAYS)
    hist_lo = TODAY - dt.timedelta(days=HISTORY_DAYS)

    task_frags = [_task_fragment(t, i) for i, t in enumerate(tasks)]
    user_frags = [_user_fragment(u) for u in range(40)]

    def line(eid: str, start: int, at: int | None, n: int, desc: str) -> str:
        return _entry_line(
            eid, start, at, task_frags[n % n_tasks], n % 40, user_frags[n % 40], desc
        )

    history: dict[str, tuple[int, int]] = {}  # id -> (start_ms, at_ms)
    hist_rows = []
    for i in range(n_history):
        day = hist_lo + dt.timedelta(days=rng.randrange(HISTORY_DAYS + 1))
        start = _start_ms(rng, day)
        at = start + 7_200_000
        eid = f"h{i}"
        history[eid] = (start, at)
        hist_rows.append(line(eid, start, at, i, f"hist {i}"))

    # each history id is updated at most once, so keep-latest never has
    # to break a tie between two null-`at` copies
    updatable = list(history)
    rng.shuffle(updatable)
    staged_rows = []
    copies: dict[str, list[tuple[int, int | None]]] = {}

    def add(eid: str, start: int, at: int | None, n: int) -> None:
        staged_rows.append(line(eid, start, at, n, f"staged {n}"))
        copies.setdefault(eid, []).append((start, at))

    for n in range(n_staged):
        r = rng.random()
        if r < 0.02:  # straddles the DST change
            start = DST_CHANGE_MS + rng.randrange(-2 * 3_600_000, 2 * 3_600_000)
        elif r < 0.03:  # one day before the window: not merged
            start = _start_ms(rng, lo - dt.timedelta(days=2))
        else:
            start = _start_ms(rng, lo + dt.timedelta(days=rng.randrange(WINDOW_DAYS)))
        eid = updatable.pop() if n % 2 == 0 else f"s{n}"
        at = _ms(dt.datetime.combine(TODAY, dt.time(3, 0), tzinfo=UTC)) + n
        add(eid, start, at, n)
        r = rng.random()
        if r < 0.05:  # re-sent later with a newer `at`: the newer copy wins
            add(eid, start, at + 60_000, n + 1)
        elif r < 0.052:  # re-sent with a null `at`: the null copy wins
            add(eid, start, None, n + 2)
    rng.shuffle(staged_rows)

    # the expected windowed MERGE, computed without Spark
    winners: dict[str, tuple[int, int | None]] = {}
    for eid, cs in copies.items():
        nulls = [c for c in cs if c[1] is None]
        winners[eid] = nulls[0] if nulls else max(cs, key=lambda c: c[1])
    in_window = {
        eid: w for eid, w in winners.items() if lo <= oslo_date(w[0]) <= TODAY
    }
    fact = dict(in_window)
    for eid, (start, at) in history.items():
        if eid not in in_window and not lo <= oslo_date(start) <= TODAY:
            fact[eid] = (start, at)

    os.makedirs(root, exist_ok=True)
    paths = {
        name: os.path.join(root, f"{name}.jsonl")
        for name in ("history", "staged", "tasks")
    }
    task_lines = [json.dumps(t, separators=(",", ":")) + "\n" for t in tasks]
    for name, lines in (("history", hist_rows), ("staged", staged_rows), ("tasks", task_lines)):
        with open(paths[name], "w") as f:
            f.writelines(lines)
    return SyncInputs(
        history_path=paths["history"],
        staged_path=paths["staged"],
        tasks_path=paths["tasks"],
        sizes={
            "history_entries": n_history,
            "staged_entries": len(staged_rows),
            "raw_tasks": n_tasks,
        },
        expected_fact_rows=len(fact),
        expected_digest=sum(entry_digest(e, w[1]) for e, w in fact.items()),
        expected_dims={
            "dim_lists": len(used_lists),
            "dim_tasks": n_tasks,
            "dim_accounts": account_rows,
            "dim_apps": sum(1 for t in tasks if t["custom_item_id"] == APP_ITEM),
        },
    )


# ---------------------------------------------------------------------------
# documents and embeddings (corpus_build and index_ingest)
# ---------------------------------------------------------------------------


def make_text(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        if rng.random() < 0.12:
            words.append(rng.choice(STOPWORDS))
        else:
            words.append(rng.choice(VOCAB))
    return " ".join(words)


def make_docs(rng: random.Random, first_id: int, n: int) -> list[tuple[int, str]]:
    """Documents of 30-90 words; one in ten is too short for the quality
    gate, one in twenty repeats an earlier text with different case and
    spacing (an exact dup after normalization), and one in twenty is an
    earlier text with two words changed (a near dup)."""
    docs: list[tuple[int, str]] = []
    for i in range(n):
        r = rng.random()
        if docs and r < 0.05:
            _, src = rng.choice(docs)
            text = "  " + src.upper().replace(" ", "  ") + " "
        elif docs and r < 0.10:
            words = rng.choice(docs)[1].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        elif r < 0.20:
            text = make_text(rng, rng.randint(5, 25))
        else:
            text = make_text(rng, rng.randint(30, 90))
        docs.append((first_id + i, text))
    return docs


def make_vectors(nprng: np.random.Generator, n: int, dim: int = 64, n_clusters: int = 10) -> np.ndarray:
    """Clustered unit-scale float32 vectors (the sf0.1 embeddings shape)."""
    centers = nprng.normal(size=(n_clusters, dim))
    labels = nprng.integers(0, n_clusters, size=n)
    v = 0.5 * centers[labels] + nprng.normal(size=(n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.3).astype(np.float32)


def write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
            }
        ),
        path,
    )


def write_vectors(path: str, ids, vecs: np.ndarray, id_col: str) -> None:
    pq.write_table(
        pa.table(
            {
                id_col: pa.array(list(ids), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        path,
    )


@dataclass
class CorpusInputs:
    docs_path: str
    benchmark_path: str
    embeddings_path: str
    benchmark_embeddings_path: str
    media_ids: list
    corrupt_media_ids: list
    sizes: dict
    expected_after_exact_dedup: int


def write_corpus_inputs(root: str, seed: int, n_docs: int) -> CorpusInputs:
    """The build_corpus inputs: documents, a held-out text benchmark that
    shares 8-grams with some documents, per-doc embeddings (four docs in
    five) with planted semantic dups, eval embeddings that sit on a few
    doc vectors, and the ids that get valid or corrupt media."""
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    docs = make_docs(rng, 1, n_docs)
    long_docs = [d for d in docs if len(d[1].split()) >= 40]
    leaked = rng.sample(long_docs, max(1, len(long_docs) // 50))
    bench = [(10**9 + i, make_text(rng, 50)) for i in range(40)]
    bench += [
        (10**9 + 100 + i, make_text(rng, 10) + " " + " ".join(t.split()[5:20]))
        for i, (_, t) in enumerate(leaked)
    ]

    emb_ids = [d for d, _ in docs if d % 5 != 0]
    vecs = make_vectors(nprng, len(emb_ids))
    for j in range(0, len(vecs) - 1, 37):  # planted semantic dups
        vecs[j + 1] = vecs[j] + nprng.normal(scale=1e-3, size=vecs.shape[1])
    eval_rows = nprng.choice(len(vecs), size=8, replace=False)
    bench_vecs = vecs[eval_rows] + nprng.normal(scale=1e-3, size=(8, vecs.shape[1]))

    paths = {
        n: os.path.join(root, f"{n}.parquet")
        for n in ("docs", "benchmark", "embeddings", "benchmark_embeddings")
    }
    write_docs(paths["docs"], docs)
    write_docs(paths["benchmark"], bench)
    write_vectors(paths["embeddings"], emb_ids, vecs, "doc_id")
    pq.write_table(
        pa.table(
            {"embedding": pa.array(list(bench_vecs.astype(np.float32)), pa.list_(pa.float32()))}
        ),
        paths["benchmark_embeddings"],
    )
    ids = [d for d, _ in docs]
    # curation.normalize_text on this alphabet: lower case, whitespace
    # runs collapsed, trimmed
    distinct_texts = {" ".join(t.lower().split()) for _, t in docs}
    return CorpusInputs(
        docs_path=paths["docs"],
        benchmark_path=paths["benchmark"],
        embeddings_path=paths["embeddings"],
        benchmark_embeddings_path=paths["benchmark_embeddings"],
        media_ids=[i for i in ids if i % 7 == 0],
        corrupt_media_ids=[i for i in ids if i % 97 == 0],
        sizes={
            "docs": n_docs,
            "benchmark_docs": len(bench),
            "embeddings": len(emb_ids),
            "media": len(ids) // 7,
        },
        expected_after_exact_dedup=len(distinct_texts),
    )


# ---------------------------------------------------------------------------
# index_ingest: base corpora, per-op batches and the scan-form text top-k
# ---------------------------------------------------------------------------


def term_counts(text: str) -> dict[str, int]:
    """Token frequencies under textindex.tokenize (lower, trim, split on
    non-alphanumerics, drop empties)."""
    out: dict[str, int] = {}
    for tok in TOKEN_RE.split(text.lower().strip()):
        if tok:
            out[tok] = out.get(tok, 0) + 1
    return out


def scan_term_topk(live: dict[int, dict[str, int]], terms: list[str], k: int) -> list[tuple[int, int]]:
    """Scan-form tf-sum top-k over every live document, ordered by
    (score desc, doc_id asc) like ``textindex.index_term_topk``."""
    scored = []
    for doc_id, tf in live.items():
        s = sum(tf.get(t, 0) for t in terms)
        if s > 0:
            scored.append((-s, doc_id))
    scored.sort()
    return [(d, -s) for s, d in scored[:k]]


@dataclass
class IngestBatch:
    vec_ids: list
    vecs: np.ndarray
    docs: list


class IngestInputs:
    """Base corpora written in setup plus a deterministic batch stream:
    batch ``i`` of seed ``s`` is the same on every run."""

    def __init__(self, root: str, seed: int, n_vectors: int, n_docs: int,
                 vec_batch: int, doc_batch: int):
        self.root, self.seed = root, seed
        self.vec_batch, self.doc_batch = vec_batch, doc_batch
        self.n_vectors, self.n_docs = n_vectors, n_docs
        os.makedirs(root, exist_ok=True)
        nprng = np.random.default_rng(seed)
        self.vectors_path = os.path.join(root, "vectors.parquet")
        write_vectors(self.vectors_path, range(n_vectors), make_vectors(nprng, n_vectors), "vec_id")
        docs = make_docs(random.Random(seed), 0, n_docs)
        self.docs_path = os.path.join(root, "docs.parquet")
        write_docs(self.docs_path, docs)
        self.live_terms = {d: term_counts(t) for d, t in docs}
        self.sizes = {
            "base_vectors": n_vectors,
            "base_docs": n_docs,
            "vector_batch": vec_batch,
            "doc_batch": doc_batch,
        }

    def batch(self, i: int) -> IngestBatch:
        nprng = np.random.default_rng([self.seed, i])
        first_vec = self.n_vectors + i * self.vec_batch
        first_doc = self.n_docs + i * self.doc_batch
        docs = make_docs(random.Random(self.seed * 1_000_003 + i), first_doc, self.doc_batch)
        return IngestBatch(
            vec_ids=list(range(first_vec, first_vec + self.vec_batch)),
            vecs=make_vectors(nprng, self.vec_batch),
            docs=docs,
        )

    def query_terms(self, i: int) -> list[str]:
        rng = random.Random(self.seed * 7919 + i)
        first = rng.choice(VOCAB[:-12])
        return [first, rng.choice(VOCAB[-12:])]
