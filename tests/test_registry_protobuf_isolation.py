"""The query registry must be fully usable WITHOUT google.protobuf.

protobuf may be absent from the driver environment (it is in this
sandbox). Registering and enumerating QUERIES must never import
``google.protobuf`` or ``pyspark.sql.streaming.proto``, and a
protobuf-less driver must still get the applyInPandasWithState ledger
row (streaming/ledger.py).

A subprocess installs a meta-path blocker that raises ImportError for
those module families, then imports the full registry and enumerates
every query fn — proving registration-time isolation even if protobuf
were importable only lazily.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

PKG = pathlib.Path(__file__).resolve().parents[1] / "hours_api_clickup_spark"

_BLOCKER = r"""
import sys

BLOCKED = ("google.protobuf", "pyspark.sql.streaming.proto")

class _Block:
    def find_module(self, name, path=None):
        return self if name.startswith(BLOCKED) else None
    def find_spec(self, name, path=None, target=None):
        if name.startswith(BLOCKED):
            raise ImportError(f"blocked by test: {name}")
        return None

sys.meta_path.insert(0, _Block())

from hours_api_clickup_spark.plans.registry import QUERIES

assert len(QUERIES) >= 150, f"registry truncated: {len(QUERIES)}"
assert "streaming_stateful_ledger" in QUERIES, (
    "protobuf-less environment lost the applyInPandasWithState ledger row"
)
for name, spec in QUERIES.items():
    assert callable(spec.fn), name

for mod in list(sys.modules):
    assert not mod.startswith(BLOCKED), f"{mod} imported during registration"

print("OK", len(QUERIES))
"""


def test_registry_registers_without_protobuf():
    proc = subprocess.run(
        [sys.executable, "-c", _BLOCKER],
        capture_output=True,
        text=True,
        cwd=str(PKG.parent),
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.startswith("OK"), proc.stdout
