"""Cross-session standing-artifact contract, generalized (r10 verdict
item 1): the LSH band store, the trained BPE vocabulary, the bigram-LM
count tables, the exact-dedup fingerprint index, and the benchmark
13-gram set written by plans/artifactq's ensure_* functions must outlive the
JVM that built them, and probes from a different JVM must NOT rebuild
them (the admission-gate probe exercises three artifacts at once).

Same protocol as tests/test_persisted_ann.py: build + probe in one
subprocess, re-probe from a second subprocess (genuinely separate JVM),
assert (a) zero file mtime changes anywhere under the warehouse root and
(b) identical probe results. All five artifacts ride in the same pair of
subprocesses to keep the test's JVM count at two."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

_SESSION = """
import json, sys
sys.path.insert(0, {repo!r})
from gmall_flink_230422_spark.session import get_spark
from gmall_flink_230422_spark.plans.artifactq import (
    ensure_lsh_store, ensure_bpe_vocab, ensure_lm_model,
    ensure_fp_index, ensure_bench_grams,
    q_lsh_persisted, q_bpe_persisted, q_lm_persisted, q_ingest_gate,
)
spark = get_spark("persist-artifacts")
paths = {{
    "lsh": ensure_lsh_store(spark, {sf!r}),
    "bpe": ensure_bpe_vocab(spark, {sf!r})[1],
    "lm": ensure_lm_model(spark, {sf!r})[0],
    "fp": ensure_fp_index(spark, {sf!r}),
    "grams": ensure_bench_grams(spark, {sf!r}),
}}
rows = {{
    "lsh": sorted([r["doc_id"], r["is_dup"]] for r in q_lsh_persisted(spark, {sf!r}).collect()),
    "bpe": sorted([r["doc_id"], r["n_tokens"], r["n_sym_enc"]] for r in q_bpe_persisted(spark, {sf!r}).collect()),
    "lm": sorted([r["doc_id"], r["n_bigrams"], r["avg_surprisal"]] for r in q_lm_persisted(spark, {sf!r}).collect()),
    "gate": sorted([r["doc_id"], r["verdict"]] for r in q_ingest_gate(spark, {sf!r}).collect()),
}}
print("RESULT " + json.dumps({{"paths": paths, "rows": rows}}))
"""


def _run(env: dict) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", _SESSION.format(repo=str(REPO), sf=SF)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
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


def test_artifacts_outlive_jvm_and_probes_do_not_rebuild(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = str(tmp_path)
    env["SPARK_GRAFT_CPUS"] = "4"

    built = _run(env)
    for kind, p in built["paths"].items():
        assert p.startswith(str(tmp_path)), (kind, p)
        assert os.path.isdir(p), f"{kind} artifact missing after builder JVM exit"
        assert "/fp=" in p, f"{kind} artifact not fingerprint-addressed: {p}"
    # the LSH store is band-partitioned: probes partition-prune on band
    parts = [d for d in os.listdir(built["paths"]["lsh"]) if d.startswith("band=")]
    assert parts, f"LSH store not partitioned by band: {os.listdir(built['paths']['lsh'])}"
    for kind in ("lsh", "bpe", "lm", "gate"):
        assert built["rows"][kind], f"{kind} probe produced no rows"
    # the admission gate exercises all three of its artifacts in one probe
    verdicts = {v for _id, v in built["rows"]["gate"]}
    assert verdicts <= {"accept", "reject_exact", "reject_near_dup", "quarantine_contam"}

    before = _tree_mtimes(str(tmp_path))
    probed = _run(env)
    after = _tree_mtimes(str(tmp_path))

    assert after == before, "fresh-JVM probe rewrote a persisted artifact"
    assert probed["rows"] == built["rows"], "cross-JVM probe changed results"
