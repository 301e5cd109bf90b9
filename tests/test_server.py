"""HTTP façade smoke tests: one request per route of the reference's
Flask surface (main.py:22-232), served by the stdlib-based
hours_api_clickup_spark.server over fixture inputs."""

from __future__ import annotations

import datetime as dt
import json
import urllib.error
import urllib.request

import pytest

from hours_api_clickup_spark.server import ServerConfig, start_server
from tests.test_domain_semantics import _entry
from tests.test_pipelines import _task


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("server")
    t0 = 1700000000000
    entries = root / "entries.json"
    with open(entries, "w") as f:
        for r in [
            _entry("e1", start_ms=t0, at_ms=t0),
            _entry("e2", start_ms=t0 + 5, at_ms=t0 + 5),
        ]:
            f.write(json.dumps(r) + "\n")
    tasks = root / "tasks.json"
    with open(tasks, "w") as f:
        for r in [
            _task("t1"),
            _task("t2", custom_item_id=1005,
                  custom_fields=[{"id": "arr", "value": "9"}]),
            _task("t3", custom_item_id=1001,
                  custom_fields=[{"id": "connected_lists", "value": "l1"}]),
        ]:
            f.write(json.dumps(r) + "\n")
    cfg = ServerConfig(
        spark=spark,
        entries_path=str(entries),
        tasks_path=str(tasks),
        warehouse=str(root / "wh"),
        today_oslo=dt.date(2023, 11, 20),
    )
    srv = start_server(cfg)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def _post(url, body=None):
    data = json.dumps(body or {}).encode()
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=300) as r:
        return r.status, json.loads(r.read())


def test_root_lists_endpoints(server):
    code, body = _get(f"{server}/")
    assert code == 200
    assert "/sync/refresh" in body["endpoints"]


def test_health(server):
    code, body = _get(f"{server}/health")
    assert code == 200 and body["status"] == "healthy"
    assert body["service"] and body["version"]


def test_sync_full_reindex_then_refresh(server):
    code, body = _post(f"{server}/sync/full_reindex")
    assert code == 200 and body["status"] == "success"
    assert body["rows"] == 2
    code, body = _post(f"{server}/sync/refresh", {"days": 60})
    assert code == 200 and body["mode"] == "refresh"
    assert body["days"] == 60 and body["rows"] == 2


def test_sync_lists(server):
    code, body = _post(f"{server}/sync/lists")
    assert code == 200 and body["status"] == "success" and body["rows"] >= 1


def test_sync_tasks(server):
    code, body = _post(f"{server}/sync/tasks")
    assert code == 200 and body["rows"] == 3


def test_sync_accounts(server):
    code, body = _post(f"{server}/sync/accounts")
    assert code == 200 and body["rows"] == 1


def test_sync_apps(server):
    code, body = _post(f"{server}/sync/apps")
    assert code == 200 and body["rows"] == 1


def test_unknown_route_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/sync/nope")
    assert e.value.code == 404


def test_error_becomes_500_json(spark, tmp_path):
    cfg = ServerConfig(
        spark=spark,
        entries_path=str(tmp_path / "missing.json"),
        tasks_path=str(tmp_path / "missing.json"),
        warehouse=str(tmp_path / "wh"),
    )
    srv = start_server(cfg)
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(
                f"http://127.0.0.1:{srv.server_address[1]}/sync/full_reindex"
            )
        assert e.value.code == 500
        assert json.loads(e.value.read())["status"] == "error"
    finally:
        srv.shutdown()


def test_backup_dir_makes_every_sync_write_its_csv(spark, tmp_path):
    """ServerConfig.backup_dir: the routes write the reference's per-sync
    CSV backup (fetch_clickup_data.py:1780-1782, :1485-1487) — one
    headered file per sync under {backup_dir}/{mode}."""
    import glob

    t0 = 1700000000000
    entries = tmp_path / "entries.json"
    entries.write_text(json.dumps(_entry("e1", start_ms=t0, at_ms=t0)) + "\n")
    tasks = tmp_path / "tasks.json"
    tasks.write_text(json.dumps(_task("t1")) + "\n")
    backup = tmp_path / "backup"
    cfg = ServerConfig(
        spark=spark,
        entries_path=str(entries),
        tasks_path=str(tasks),
        warehouse=str(tmp_path / "wh"),
        today_oslo=dt.date(2023, 11, 20),
        backup_dir=str(backup),
    )
    srv = start_server(cfg)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        assert _post(f"{base}/sync/refresh")[1]["rows"] == 1
        assert _post(f"{base}/sync/lists")[1]["rows"] == 1
    finally:
        srv.shutdown()
    for mode, first_col in (("refresh", "id"), ("lists", "space_id")):
        files = glob.glob(f"{backup}/{mode}/*.csv")
        assert len(files) == 1, mode
        with open(files[0]) as f:
            assert f.readline().startswith(f"{first_col},"), mode


def test_root_payload_parity(server):
    """Root payload mirrors the reference's service-info shape
    (main.py:225-280): service + version + endpoints keyed by path with
    method/description/use_case + a schedule block covering every sync
    cadence — so the facade cannot drift from the reference contract."""
    code, body = _get(f"{server}/")
    assert code == 200
    assert body["service"] and body["version"]
    eps = body["endpoints"]
    assert set(eps) == {
        "/sync/refresh",
        "/sync/full_reindex",
        "/sync/lists",
        "/sync/tasks",
        "/sync/accounts",
        "/sync/apps",
        "/health",
    }
    for path, spec in eps.items():
        assert set(spec) == {"method", "description", "use_case"}, path
        assert spec["method"] == ("GET" if path == "/health" else "POST")
    assert set(body["schedule"]) == {
        "refresh",
        "full_reindex",
        "lists",
        "tasks",
        "accounts",
        "apps",
    }


def test_post_non_object_json_is_400(server):
    """Review r6: valid JSON that isn't an object is a malformed
    request (400), not a 500 AttributeError from body.get."""
    for body in (b"5", b"[30]", b'"days"'):
        req = urllib.request.Request(
            f"{server}/sync/refresh",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req, timeout=120)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert b"JSON object" in e.read()


def test_maintain_route_restricted_to_configured_targets(spark, tmp_path):
    """POST /maintain runs destructive prune/compact sweeps, so the
    request body may only SELECT among the operator-configured targets
    — an unauthenticated body must never widen the blast radius
    (review r10); non-list bodies are rejected before any work."""
    import hours_api_clickup_spark.datapipe.similarity as S
    from hours_api_clickup_spark.plans.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings").limit(8)
    idx = str(tmp_path / "lsh")
    S.lsh_index_write(emb, "embedding", "vec_id", idx, dim=64)
    S.lsh_index_append(emb.limit(2), "embedding", "vec_id", idx, dim=64)
    cfg = ServerConfig(
        spark=spark,
        entries_path=str(tmp_path / "unused.json"),
        tasks_path=str(tmp_path / "unused.json"),
        warehouse=str(tmp_path / "wh"),
        maintenance_targets=(f"lsh={idx}",),
    )
    srv = start_server(cfg)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # no body targets → sweep the configured set
        st, out = _post(f"{base}/maintain")
        assert st == 200 and out["mode"] == "maintain"
        assert [r["status"] for r in out["results"]] == ["ok"]
        # headline counts + per-row duration (VERDICT r10 #6)
        assert out["deferred"] == 0 and out["errors"] == 0
        assert all(r["duration_s"] >= 0 for r in out["results"])
        # body selecting the configured target → allowed
        st, out = _post(f"{base}/maintain", {"targets": [f"lsh={idx}"]})
        assert st == 200 and out["results"][0]["status"] == "ok"
        # body naming an UNconfigured path → refused, nothing runs
        victim = str(tmp_path / "victim")
        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(f"{base}/maintain", {"targets": [f"ivf={victim}:vec_id"]})
        # malformed REQUEST → 400, same as the non-object-body check;
        # 500 stays reserved for genuine sweep failures (ADVICE r10)
        assert ei.value.code == 400
        assert "not in the configured" in json.loads(ei.value.read())["error"]
        # a bare string (iterates per character) is malformed, not a list
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(f"{base}/maintain", {"targets": f"lsh={idx}"})
        assert ei.value.code == 400
        assert "JSON array" in json.loads(ei.value.read())["error"]
    finally:
        srv.shutdown()
