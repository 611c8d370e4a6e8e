"""Cross-session persisted-ANN-index contract (r9 verdict item 7): the
IVF index written by ensure_ivf_index must outlive the SparkSession/JVM
that built it, and a probe from a different JVM must NOT rebuild it.

The build and the probe each run in their own subprocess (genuinely
separate JVMs — spark.newSession() would share the block store and the
in-memory catalog, proving nothing). Rebuild-freedom is asserted by file
mtimes: the probe subprocess must leave every index file untouched.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

_BUILD = """
import json, sys
sys.path.insert(0, {repo!r})
from gmall_flink_230422_spark.session import get_spark
from gmall_flink_230422_spark.plans.artifactq import ensure_ivf_index, q_ann_ivf_persisted
spark = get_spark("persist-build")
index_p, cents_p = ensure_ivf_index(spark, {sf!r})
rows = q_ann_ivf_persisted(spark, {sf!r}).collect()
print("RESULT " + json.dumps({{
    "index_p": index_p, "cents_p": cents_p,
    "rows": sorted([r["query_id"], r["vec_id"], r["cos_sim"]] for r in rows),
}}))
"""

_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from gmall_flink_230422_spark.session import get_spark
from gmall_flink_230422_spark.plans.artifactq import q_ann_ivf_persisted
spark = get_spark("persist-probe")
rows = q_ann_ivf_persisted(spark, {sf!r}).collect()
print("RESULT " + json.dumps({{
    "rows": sorted([r["query_id"], r["vec_id"], r["cos_sim"]] for r in rows),
}}))
"""


def _run(code: str, env: dict) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def _tree_mtimes(root: str) -> dict[str, float]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def test_index_outlives_jvm_and_probe_does_not_rebuild(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = str(tmp_path)
    env["SPARK_GRAFT_CPUS"] = "4"

    built = _run(_BUILD.format(repo=str(REPO), sf=SF), env)
    assert built["rows"], "build session produced no probe results"
    index_p = built["index_p"]
    assert index_p.startswith(str(tmp_path))
    assert os.path.isdir(index_p), "index dataset missing after builder JVM exit"
    # partitioned layout: probes partition-prune on list_id at the scan
    parts = [d for d in os.listdir(index_p) if d.startswith("list_id=")]
    assert parts, f"index not partitioned by list_id: {os.listdir(index_p)}"

    before = _tree_mtimes(index_p)
    probed = _run(_PROBE.format(repo=str(REPO), sf=SF), env)
    after = _tree_mtimes(index_p)

    assert after == before, "fresh-JVM probe rewrote the persisted index"
    assert probed["rows"] == built["rows"], "cross-JVM probe changed results"
