"""Registry/bench/probe wiring invariants — static (no SparkSession):
every name the bench and scale probe reference must exist in the registry,
and every registry query must carry an oracle (the repo's correctness
contract: rows-only checks are reserved for genuinely non-SQL ops, of
which there are currently none)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _registry():
    from gmall_flink_230422_spark.plans import registry

    return registry()


def test_bench_headline_names_exist():
    import bench

    reg = _registry()
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headliners"


def test_bench_canary_names_pinned():
    """The canary set is the cross-round session-speed anchor (r9 verdict
    item 2): members must exist in the registry AND in HEADLINE, and the
    set must not silently change (that would break anchor comparability —
    BENCHNOTES r10/r11 methodology). r11 added three pinned MID-WEIGHT
    canaries (r10 verdict item 3: sub-0.5 s canaries under-corrected
    heavy-tail session pressure); the light-10 subtotal is still emitted
    as the r10 anchor bridge."""
    import bench

    reg = _registry()
    assert [n for n in bench.CANARY_ALL if n not in reg] == []
    assert [n for n in bench.CANARY_ALL if n not in bench.HEADLINE] == []
    assert bench.CANARY == [
        "q1_pricing_summary",
        "q6_forecast_revenue",
        "a1_tumble_keyed",
        "t3_daily_uv",
        "u1_keyword_count",
        "x_cosine_topk",
        "e_hll_distinct",
        "x_vocab_topk",
        "e_gini",
        "e_theil",
    ], "canary membership changed — document in BENCHNOTES and update this pin"
    assert bench.CANARY_MID == [
        "x_curate_corpus",
        "x_pq_ann",
        "x_contam_13gram",
    ], "mid-weight canary membership changed — document in BENCHNOTES and update this pin"
    assert bench.CANARY_ALL == bench.CANARY + bench.CANARY_MID


def test_scale_probe_names_exist():
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import scale_probe

    reg = _registry()
    missing = [n for n in scale_probe.QUERIES if n not in reg]
    assert not missing, missing
    missing_sf1 = [n for n in scale_probe.HEAVY_SF1 if n not in reg]
    assert not missing_sf1, missing_sf1


def test_every_query_has_oracle():
    reg = _registry()
    no_oracle = [n for n, s in reg.items() if s.oracle is None]
    assert not no_oracle, no_oracle


def _sweep_names_missing(sweep: str, at_least: int) -> list[str]:
    """Names of the committed sweep file ``sweep`` (which holds at least
    ``at_least`` names) that the registry no longer has."""
    names = json.load(open(Path(__file__).resolve().parent.parent / sweep))
    assert len(names) >= at_least
    return sorted(set(names) - set(_registry()))


def test_registry_superset_of_r5_names():
    """The 50-name sample of the first committed sweep stays in the
    registry, so its evidence base is not silently dropped."""
    assert _sweep_names_missing("CORRECTNESS_r05.json", 50) == []


def test_registry_superset_of_r6_names():
    """The 287 queries of the CORRECTNESS_local_r06.json sweep stay in the
    registry."""
    assert _sweep_names_missing("CORRECTNESS_local_r06.json", 287) == []


def test_registry_superset_of_r7_names():
    """The 312 queries of the CORRECTNESS_local_r07.json sweep stay in the
    registry."""
    assert _sweep_names_missing("CORRECTNESS_local_r07.json", 312) == []


def test_registry_superset_of_r8_names():
    """The 349 queries of the CORRECTNESS_local_r08.json sweep stay in the
    registry."""
    assert _sweep_names_missing("CORRECTNESS_local_r08.json", 349) == []


def test_registry_superset_of_r9_names():
    """The 373 queries of the CORRECTNESS_local_r09.json sweep stay in the
    registry."""
    assert _sweep_names_missing("CORRECTNESS_local_r09.json", 373) == []


def test_registry_superset_of_r10_names():
    """The 377 queries of the CORRECTNESS_local_r10.json sweep (r09's 373
    plus the 4 persisted-index ANN queries) stay in the registry."""
    assert _sweep_names_missing("CORRECTNESS_local_r10.json", 377) == []


def test_registry_names_pinned_to_committed_sweeps():
    """The registry is exactly the 387 names of the last committed
    full-registry sweep, and every older committed sweep (the driver's
    50-name sample and the full sweeps since) is a subset of it, so no
    evidenced query can silently drop out of the registry."""
    root = Path(__file__).resolve().parent.parent

    def names(f: str) -> set[str]:
        return set(json.load(open(root / f)))

    current = names("CORRECTNESS_local_r12.json")
    assert len(current) == 387
    assert set(_registry()) == current
    older = ["CORRECTNESS_r05.json"] + [f"CORRECTNESS_local_r{n:02d}.json" for n in range(6, 11)]
    assert {f: sorted(names(f) - current) for f in older} == {f: [] for f in older}


def test_make_evidence_name_set_gate():
    """r9 verdict item 1: tools/make_evidence.py must FAIL when any
    committed sweep's name set differs from the live registry's — this
    is the mechanism that prevents the r7/r8/r9 'evidence covers N-4
    queries' split-brain. Prove the gate trips on a synthetic mismatch
    and passes on a faithful copy."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from make_evidence import check_name_sets

    reg_names = set(_registry())
    ok, msgs = check_name_sets({"fake_sweep.json": reg_names}, reg_names)
    assert ok, msgs
    ok, msgs = check_name_sets(
        {"fake_sweep.json": reg_names - {sorted(reg_names)[0]}}, reg_names
    )
    assert not ok
    assert "fake_sweep.json" in " ".join(msgs)
    ok, msgs = check_name_sets(
        {"fake_sweep.json": reg_names | {"zz_not_in_registry"}}, reg_names
    )
    assert not ok


def test_plans_drain_through_streaming_drain():
    """Every streaming twin runs its micro-batch loop through
    streaming.drain: no plan module starts its own streaming query, nor
    makes a temp dir outside ``io.scratch_dir`` (which removes its root
    when the process exits)."""
    plans = Path(__file__).resolve().parent.parent / "gmall_flink_230422_spark" / "plans"
    hits = [
        f"{p.name}:{i}"
        for p in sorted(plans.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".writeStream" in line or "availableNow" in line or "mkdtemp" in line
    ]
    assert not hits, hits


def test_plans_build_near_dup_through_chain():
    """Every plan builds near-duplicate state through
    operators.dedup.near_dup_chain (or doc_bands for band rows): no plan
    module composes MinHash signatures, band signatures or LSH candidates
    by hand. The one exception is x_lsh_tune, which sweeps band shapes
    over the chain's signatures with one lsh_candidate_pairs call."""
    plans = Path(__file__).resolve().parent.parent / "gmall_flink_230422_spark" / "plans"
    patterns = ("minhash_signatures(", "band_signatures(", "lsh_candidate_pairs(")
    dedupq = (plans / "dedupq.py").read_text().splitlines()
    start = dedupq.index("def q_lsh_tune(spark, sf_dir):") + 1
    end = next(i for i in range(start, len(dedupq)) if dedupq[i].startswith("def "))
    hits = [
        (p.name, i, line.strip())
        for p in sorted(plans.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(pat in line for pat in patterns)
    ]
    in_tune = [h for h in hits if h[0] == "dedupq.py" and start <= h[1] <= end]
    assert [h for h in hits if h not in in_tune] == []
    assert len(in_tune) <= 1 and all("lsh_candidate_pairs(" in h[2] for h in in_tune)


_REPLAY_BYPASSES = (
    "stream_parquet(",
    "readStream",
    "write_chunks_by",
    "write_time_chunks",
    "shuffle.partitions",
    ".count()",
)


def _replay_bypasses(sources: dict[str, str]) -> list[str]:
    return [
        f"{name}:{i}: {line.strip()}"
        for name, text in sorted(sources.items())
        for i, line in enumerate(text.splitlines(), 1)
        if any(pat in line for pat in _REPLAY_BYPASSES)
    ]


def test_plans_replay_through_files_replay():
    """Every streaming twin gets its micro-batch input from
    sources.files.replay: no plan module opens its own file stream, lands
    its own replay chunks, sizes a replay with a row count, or sets the
    session's shuffle partitions (streaming.drain scopes that to the
    query). A planted hand-built source is caught."""
    plans = Path(__file__).resolve().parent.parent / "gmall_flink_230422_spark" / "plans"
    sources = {p.name: p.read_text() for p in plans.glob("*.py")}
    assert _replay_bypasses(sources) == []
    planted = dict(sources)
    planted["streamq.py"] += '\nstream = files.stream_parquet(spark, src, files_per_trigger=1)\n'
    assert len(_replay_bypasses(planted)) == 1
    package = plans.parent
    assert not [
        p.name
        for p in package.rglob("*.py")
        if "write_chunks_by" in p.read_text() or "write_time_chunks" in p.read_text()
    ]


def _schema_less_reads(sources: dict[str, str]) -> list[str]:
    """``<x>.read.parquet(...)`` calls (Spark infers the schema with a job)
    outside ``io.read_parquet``, as ``file:line``."""
    import ast

    found = []
    for name, text in sources.items():
        tree = ast.parse(text)
        allowed = set()
        if name == "io.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "read_parquet":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr == "parquet"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "read"
                and id(node) not in allowed
            ):
                found.append(f"{name}:{node.lineno}")
    return found


def test_parquet_reads_through_read_parquet():
    """Every schema-less parquet read in the package goes through
    io.read_parquet, which takes the schema from the footer so building the
    DataFrame runs no Spark job. cds.py is exempt: its source keys the
    class-data archive. A planted direct read is caught."""
    package = Path(__file__).resolve().parent.parent / "gmall_flink_230422_spark"
    sources = {
        str(p.relative_to(package)): p.read_text()
        for p in package.rglob("*.py")
        if p.name != "cds.py"
    }
    assert "io.py" in sources
    assert _schema_less_reads(sources) == []
    planted = dict(sources)
    planted["sinks.py"] += "\n\ndef _f(spark, p):\n    return spark.read.parquet(p)\n"
    assert _schema_less_reads(planted) == [f"sinks.py:{len(planted['sinks.py'].splitlines())}"]


_RELEASE_CALLS = ("clearCache", "getPersistentRDDs", "unpersist")
_RELEASE_OWNERS = {
    ("gmall_flink_230422_spark/io.py", "query_scope"),
    ("gmall_flink_230422_spark/sinks.py", "land_batch"),  # per-batch persist
}
_CONTAINERS = ("dict", "list", "set", "defaultdict", "OrderedDict")
_MUTATORS = {
    "append", "extend", "insert", "remove", "pop", "popitem", "clear",
    "update", "setdefault", "add", "discard",
}


def _module_containers(tree) -> dict[str, int]:
    """Module-level names bound to a dict, list or set: name -> line."""
    import ast

    names = {}
    for node in tree.body:
        if not isinstance(node, (ast.Assign, ast.AnnAssign)):
            continue
        v = node.value
        if isinstance(v, (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp)) or (
            isinstance(v, ast.Call) and isinstance(v.func, ast.Name) and v.func.id in _CONTAINERS
        ):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update({t.id: node.lineno for t in targets if isinstance(t, ast.Name)})
    return names


def _query_state_outside_scope(sources: dict[str, str]) -> list[str]:
    """``file:line`` of every place that releases query state outside
    ``io.query_scope`` (a ``clearCache``, ``getPersistentRDDs`` or
    ``unpersist`` call; ``sinks.land_batch`` unpersists its own batch), and
    of every module-level dict/list/set a function writes to: state kept
    across queries. Constant tables (``HEADLINE``, the ``SPECS`` registries
    filled at import) are only read once the module is loaded."""
    import ast

    found = []
    for name, text in sorted(sources.items()):
        tree = ast.parse(text)
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (name, fn.name) in _RELEASE_OWNERS
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr in _RELEASE_CALLS
                and id(node) not in allowed
            ):
                found.append(f"{name}:{node.lineno}")
        containers = _module_containers(tree)
        written = set()
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Global):
                    written |= set(node.names)
                elif isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
                    if isinstance(node.value, ast.Name):
                        written.add(node.value.id)
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _MUTATORS
                    and isinstance(node.func.value, ast.Name)
                ):
                    written.add(node.func.value.id)
        found += [f"{name}:{line}" for n, line in containers.items() if n in written]
    return found


def test_query_state_released_only_by_query_scope():
    """One owner for a query's state: only io.query_scope clears the cache
    or unpersists RDDs, and no module keeps a container that functions
    fill across queries (the shape of the removed cross-query memos). Covers
    the package, tools/ and bench.py. A planted clearCache and a planted
    memo are both caught."""
    root = Path(__file__).resolve().parent.parent
    paths = [
        *(root / "gmall_flink_230422_spark").rglob("*.py"),
        *(root / "tools").glob("*.py"),
        root / "bench.py",
    ]
    sources = {str(p.relative_to(root)): p.read_text() for p in paths}
    assert "gmall_flink_230422_spark/io.py" in sources and "bench.py" in sources
    assert _query_state_outside_scope(sources) == []
    planted = dict(sources)
    common = "gmall_flink_230422_spark/plans/common.py"
    memo_line = len(planted[common].splitlines()) + 2
    planted[common] += "\n_SEEN: dict = {}\n\n\ndef _remember(k, v):\n    _SEEN[k] = v\n"
    clear_line = len(planted["bench.py"].splitlines()) + 4
    planted["bench.py"] += "\n\ndef _reset(spark):\n    spark.catalog.clearCache()\n"
    assert _query_state_outside_scope(planted) == [
        f"bench.py:{clear_line}",
        f"{common}:{memo_line}",
    ]


# Test files still named by the round that wrote them. Renaming them moves
# the id of every test inside; the list may only shrink.
_ROUND_NAMED_TESTS = {
    "test_round4_ops.py",
    "test_round5_ops.py",
    "test_round6_ops.py",
    "test_round7_ops.py",
    "test_round8_ops.py",
    "test_round8_properties.py",
    "test_round8b_ops.py",
    "test_round9_ops.py",
    "test_round9_properties.py",
    "test_round9_queries.py",
    "test_r11_optimizations.py",
    "test_r12_optimizations.py",
}


def _plan_boundary_violations(sources: dict[str, str]) -> list[str]:
    """Boundary breaks among ``plans/`` and ``tests/`` files (``path ->
    source``): a plan module importing an underscore name from a sibling
    plan module other than ``plans/common.py`` (the one home of shared
    helpers), a plan module calling ``ensure_dataset`` instead of
    ``io.ensure_artifact``, and a plan or test file named by round."""
    import ast
    import re

    plan_mods = {
        Path(n).stem for n in sources if n.startswith("gmall_flink_230422_spark/plans/")
    }
    found = []
    for name, text in sorted(sources.items()):
        stem = Path(name).stem
        if re.search(r"(?:^|_)(?:r|round)\d+", stem) and Path(name).name not in _ROUND_NAMED_TESTS:
            found.append(f"{name}: named by round")
        if not name.startswith("gmall_flink_230422_spark/plans/"):
            continue
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.ImportFrom):
                if node.level == 1:
                    mod = node.module
                elif (node.module or "").startswith("gmall_flink_230422_spark.plans."):
                    mod = node.module.rsplit(".", 1)[1]
                else:
                    continue
                if mod in plan_mods and mod not in ("common", stem):
                    found += [
                        f"{name}:{node.lineno}: {a.name} from {mod}"
                        for a in node.names
                        if a.name.startswith("_")
                    ]
            elif isinstance(node, ast.Call):
                f = node.func
                if getattr(f, "id", None) == "ensure_dataset" or getattr(f, "attr", None) == "ensure_dataset":
                    found.append(f"{name}:{node.lineno}: ensure_dataset")
    return found


def test_plan_module_boundaries():
    """Plan modules share private helpers only through plans/common.py,
    build standing artifacts only through io.ensure_artifact, and no plan
    or test file is named by round. Planted breaks of each kind are
    caught."""
    root = Path(__file__).resolve().parent.parent
    paths = [
        *(root / "gmall_flink_230422_spark" / "plans").glob("*.py"),
        *(root / "tests").glob("*.py"),
    ]
    sources = {str(p.relative_to(root)): p.read_text() for p in paths}
    assert "gmall_flink_230422_spark/plans/common.py" in sources
    assert _plan_boundary_violations(sources) == []
    planted = dict(sources)
    textq = "gmall_flink_230422_spark/plans/textq.py"
    n = len(planted[textq].splitlines())
    planted[textq] += (
        "\nfrom .dedupq import _SIMHASH_CTE\n"
        "from gmall_flink_230422_spark.plans.vectorq import _BUCKET_SQL, ORACLE_ANN_IVF\n"
        "from .common import _docs_par\n"
        "\n\ndef _build(spark, sf_dir):\n"
        "    return ensure_dataset(sf_dir, 'v1', print)\n"
    )
    planted["gmall_flink_230422_spark/plans/r13.py"] = ""
    planted["tests/test_round13_ops.py"] = ""
    assert sorted(_plan_boundary_violations(planted)) == sorted([
        f"{textq}:{n + 2}: _SIMHASH_CTE from dedupq",
        f"{textq}:{n + 3}: _BUCKET_SQL from vectorq",
        f"{textq}:{n + 8}: ensure_dataset",
        "gmall_flink_230422_spark/plans/r13.py: named by round",
        "tests/test_round13_ops.py: named by round",
    ])
