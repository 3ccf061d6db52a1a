"""Session-cache inventory (VERDICT r10 item 3): ONE listing test that
enumerates every module-level dict in the package and asserts each one is
either (a) a session cache whose ONLY mutation path is io.session_cached —
keyed (applicationId, *extra), dead-app-evicted, RLock-serialized, all
properties pinned functionally in tests/test_io_cache.py — or (b) an
explicitly exempted non-cache (the query registry). Today every cache is
individually disciplined; this test is what stops the NEXT one from
leaking: adding a module-level dict that is mutated directly (cache[k]=v,
.setdefault, .update) fails here, as does adding a cache without updating
the inventory below.

Static (AST) rather than runtime: monkeypatching session_cached and
triggering every builder would cost minutes of Spark time per run and
still only cover the caches a test happens to touch; the discipline being
asserted — "no write-site outside session_cached" — is a source property.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "apache_jira_scraper_spark"

# The full session-cache inventory. A new cache dict must be added here
# (and be session_cached-disciplined) or this test fails on discovery.
EXPECTED_CACHES = {
    "operators/corpus.py": {
        "_DOCS_PROJ_CACHE",
        "_DOMAIN_CARDS_CACHE",
        # r13 optimization round: corpus_report's per-doc
        # (source, lang, band, n_tokens) projection (W16)
        "_REPORT_BASE_CACHE",
    },
    "operators/dedup.py": {
        "_SHINGLE_CACHE",
        "_PAIRS_CACHE",
        "_SIMHASH_CACHE",
        "_EMB_PROJ_CACHE",
        "_EMB_PAIRS_CACHE",
        "_LABELS_CACHE",
    },
    "operators/multimodal.py": {
        "_PHASH_TABLES",
        "_PHASH_PAIRS",
        "_MEDIA_CLUSTERS",
        # r13 optimization round: the 11 fixture folds merged into one
        # session-checkpointed side table (W9)
        "_FIXTURE_CORE",
    },
    "operators/pipeline_queries.py": {
        "_ISSUES_CACHE",
        # r14: prepared-query memo — the lazy 7-branch example-union frame
        # OBJECT per (sf_dir, include_content); no data materialized (the
        # r13 _EXAMPLES_CACHE eager checkpoint held the flatmap gate's
        # ANSWER and is banned; this holds only the analyzed plan — every
        # consumer action re-executes the explode from the issues silver)
        "_EXAMPLES_FRAME_MEMO",
    },
    "operators/quantize.py": {"_PQ_MODEL", "_OPQ_MODEL", "_TS_SPINE"},
    "operators/similarity.py": {
        "_EXACT_TOPK_CACHE",
        "_IVF_CENTROIDS",
    },
    "operators/extended.py": {
        "_CMS_HH_CACHE",
        # r14: prepared-query memo — holds jira_rest_ingest's lazily-built
        # frame OBJECT (no data materialized; page fetches + extraction
        # re-execute per call, only the ~1 s/call from_json+extract plan
        # construction amortizes; presentation sort live per call)
        "_REST_FRAME_MEMO",
    },
}

# r14 (VERDICT r13 item 1): caches whose entry held a GATE'S RESULT GRAIN —
# the query's answer (or the answer modulo its presentation sort) rather
# than shared input-side state — were removed; warm bench samples on those
# gates were timing checkpoint scans of the precomputed answer instead of
# the declared query. These names must never reappear, and no NEW cache may
# hold a frame that any registered gate returns (modulo a final orderBy/
# column rename): a cache entry must be consumed by strictly MORE
# computation than a presentation sort before it reaches a gate's output.
RESULT_GRAIN_BANNED = {
    "_FUZZY_PAIRS_CACHE",   # relational: the fuzzy gate's verified pairs
    "_ADC_HITS",            # quantize: two_stage_topk's recall verdict table
    "_CLUSTER_CORE_CACHE",  # dedup: labels ⋈ pagerank ⋈ weighted-pagerank
    "_IVF_ASSIGNED",        # similarity: the gate's probe assignment
    "_EXAMPLES_CACHE",      # pipeline_queries: jira_flatmap_examples' answer
    # single-gate caches: a cache stays only where two or more gates read it
    "_BM25_TOPK_CACHE", "_BIGRAM_LEG_CACHE", "_DOCS_TOK_CACHE",
    "_CONTAM_LEG_CACHE", "_BACKOFF_LEG_CACHE", "_BPE_PIECES_CACHE",
    "_UNIGRAM_LEG_CACHE", "_QC_WEIGHTS_CACHE", "_BPE_LEG_CACHE",
    "_DSIR_LEG_CACHE", "_TOKPACK_LEG_CACHE", "_PPL_LEG_CACHE",
    "_VERDICT_LEG_CACHE", "_UNITOK_LEG_CACHE", "_TEXT_GATE_FRAME_MEMO",
    "_NGRAM_LEG_CACHE", "_SUBSTR_LEG_CACHE", "_SEM_LSH_CACHE",
    "_SEM_IVF_CACHE", "_SEM_PROTO_CACHE",
}

# Module-level dicts that are NOT session caches (never hold DataFrames
# keyed by applicationId). Each exemption must say why.
EXEMPT = {
    # the query-name -> Entry registry: process-lifetime by design,
    # mutated only by registry.register() at import time
    "registry.py": {"_REGISTRY"},
    # r13: the per-(cache, key) build-lock map behind session_cached —
    # holds threading.RLocks, never DataFrames; maintained (insert +
    # dead-app eviction) inside session_cached itself
    "io.py": {"_BUILD_LOCKS"},
    # immutable constant: per-source mix weights for the corpus gate
    "operators/corpus.py": {"GATE_MIX_WEIGHTS"},
    # _MOCK holds the in-process MockJira server singleton (plain Python
    # object, no Spark checkpoints — survives session restarts by design
    # so the mock corpus stays identical); MOCK_TOTALS is a constant
    "operators/extended.py": {"_MOCK", "MOCK_TOTALS"},
    # immutable constant: reference-literal instruction templates
    "operators/tasks.py": {"_INSTRUCTIONS"},
    # immutable constant: oracle SQL strings for the pipeline gates
    "operators/pipeline_queries.py": {"ORACLES"},
}


def _module_level_dicts(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Dict):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    names.add(t.id)
        elif (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.value, ast.Dict)
            and isinstance(node.target, ast.Name)
        ):
            names.add(node.target.id)
    return names


def _is_session_cached_call(node: ast.Call) -> bool:
    f = node.func
    return (isinstance(f, ast.Name) and f.id == "session_cached") or (
        isinstance(f, ast.Attribute) and f.attr == "session_cached"
    )


_MUTATORS = {"setdefault", "update", "pop", "popitem", "clear", "__setitem__"}


def _violations(tree: ast.Module, caches: set[str]) -> list[str]:
    """Every use of a cache name other than its definition must be as the
    first argument of a session_cached(...) call. Direct subscript stores,
    deletes, and mutating method calls are violations; so is ANY other
    read (passing the dict somewhere else is how an undisciplined write
    path starts). No function is exempt, whatever its name or module."""
    bad: list[str] = []
    allowed_use: set[int] = set()  # id() of Name nodes used legitimately
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _is_session_cached_call(node):
            if node.args and isinstance(node.args[0], ast.Name):
                allowed_use.add(id(node.args[0]))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id in caches:
            if isinstance(node.ctx, (ast.Store,)):
                continue  # the module-level definition itself
            if id(node) not in allowed_use:
                bad.append(f"{node.id} used outside session_cached at line {node.lineno}")
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name):
            if node.value.id in caches and isinstance(
                node.ctx, (ast.Store, ast.Del)
            ):
                bad.append(
                    f"{node.value.id} subscript-mutated at line {node.lineno}"
                )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in caches
            and node.func.attr in _MUTATORS
        ):
            bad.append(
                f"{node.func.value.id}.{node.func.attr}() at line {node.lineno}"
            )
    return bad


def test_every_module_level_dict_is_inventoried_and_disciplined():
    found: dict[str, set[str]] = {}
    problems: list[str] = []
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        tree = ast.parse(py.read_text())
        dicts = _module_level_dicts(tree)
        if not dicts:
            continue
        exempt = EXEMPT.get(rel, set())
        caches = dicts - exempt
        if caches:
            found[rel] = caches
            problems += [f"{rel}: {v}" for v in _violations(tree, caches)]
    assert found == EXPECTED_CACHES, (
        "module-level dict inventory drifted — new session caches must be "
        f"added to EXPECTED_CACHES (and use io.session_cached): {found}"
    )
    assert not problems, "undisciplined cache access:\n" + "\n".join(problems)


def test_drain_exemption_is_scoped_to_text_module():
    """No module keeps a drain exemption any more: a
    drain_session_caches() that clears its caches directly is a
    violation everywhere, operators/text.py included."""
    tree = ast.parse(
        "_X_CACHE = {}\n"
        "def drain_session_caches():\n"
        "    for k in list(_X_CACHE):\n"
        "        del _X_CACHE[k]\n"
        "    _X_CACHE.clear()\n"
    )
    bad = _violations(tree, {"_X_CACHE"})
    assert any("subscript-mutated" in v for v in bad)
    assert any("_X_CACHE.clear()" in v for v in bad)
    assert any("used outside session_cached" in v for v in bad)


def test_no_result_grain_caches():
    """VERDICT r13 item 1: the banned caches (result grain, and the
    single-gate caches) stay removed, and the inventory cannot quietly
    re-admit them. Source-level like the
    discipline test above: any reappearance of a banned name anywhere in
    the package (or in EXPECTED_CACHES) fails loudly with the file."""
    hits: list[str] = []
    for py in sorted(PKG.rglob("*.py")):
        src = py.read_text()
        for name in RESULT_GRAIN_BANNED:
            if name in src:
                hits.append(f"{py.relative_to(PKG)}: {name}")
    assert not hits, (
        "banned cache name reintroduced (see RESULT_GRAIN_BANNED):\n"
        + "\n".join(hits)
    )
    inventoried = {n for names in EXPECTED_CACHES.values() for n in names}
    assert not (inventoried & RESULT_GRAIN_BANNED)


def test_session_cached_is_the_only_cache_writer_in_io():
    """io.session_cached's own body is the one legitimate write site; pin
    that it actually keys by applicationId and evicts dead apps (source
    guard — the functional twin lives in tests/test_io_cache.py)."""
    src = (PKG / "io.py").read_text()
    assert "applicationId" in src
    body = src.split("def session_cached", 1)[1]
    assert "del cache[k]" in body  # dead-app eviction
    assert "_SESSION_CACHE_LOCK" in body  # serialized builds
