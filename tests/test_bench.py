"""bench.py smoke test: the headline benchmark runs end to end on the small
fixture and prints one JSON line carrying every headline key."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEADLINE_KEYS = {
    "index_build", "pack_blocks", "query_topk5_batch", "query_wand_topk5",
    "query_wand_auto_topk5", "query_local_p95", "query_p95", "query_session_p95",
}


def test_bench_smoke():
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_SMALL,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_REPLICATE": "1",
        "SPARK_GRAFT_EXPAND": "1",
        "SPARK_GRAFT_ZIPF_BUCKETS": "0",
        "SPARK_GRAFT_WARM_BUILD": "0",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])
    assert set(out["queries"]) == HEADLINE_KEYS
    assert out["value"] > 0 and out["unit"] == "sec" and out["sf"] == 0.001
