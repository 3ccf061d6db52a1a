"""Registry-shape contract (VERDICT r05 items 1-2): the r05 gate rotation
silently shrank the registry from 50 to 48 and stranded a `_QS[...]` lookup
in test_plans.py. These pins make both failure modes loud."""

from __future__ import annotations

import re
from pathlib import Path

from apache_jira_scraper_spark import registry

_TESTS_DIR = Path(__file__).parent


def test_registry_holds_exactly_fifty_gates():
    """The driver hash-checks at most 50 queries; we keep the registry at
    exactly that cap — a rotation that deregisters a gate must register a
    replacement in the same commit."""
    assert len(registry.queries()) == 50, sorted(registry.queries())


def test_every_qs_lookup_in_tests_resolves():
    """Every `_QS["name"]` (and `qs["name"]`) lookup anywhere in the test
    suite must name a live registry entry, so a rotation can't strand a
    plan test (r05 shipped a KeyError in test_plans.py)."""
    names = set(registry.queries())
    # \b-anchored so identifiers merely ENDING in 'qs' (freqs[...],
    # reqs[...]) don't false-positive as registry lookups (review r06)
    pat = re.compile(r"""\b_?[Qq][Ss]\[\s*['"]([a-z0-9_]+)['"]\s*\]""")
    stranded = {
        (path.name, m)
        for path in _TESTS_DIR.glob("test_*.py")
        if path.name != "test_registry_contract.py"  # this docstring matches
        for m in pat.findall(path.read_text())
        if m not in names
    }
    assert not stranded, f"tests reference deregistered gates: {sorted(stranded)}"


def test_oracle_coverage_is_total_except_streaming():
    """Every gate carries a DuckDB oracle except the genuinely
    non-SQL-expressible streaming-stateful pair — the driver then records
    only a rows-only check, which the judge sees (task contract)."""
    qs = set(registry.queries())
    oracles = set(registry.oracle_sql())
    assert qs - oracles <= {"stream_stateful", "stream_tumbling_counts"}, (
        qs - oracles
    )


def test_gate_wrappers_keep_their_module_and_release():
    """Each entry wraps its gate as the owner of the frames a call
    registers (io.scope). The wrapper keeps the operator module that
    defines the gate (perfbench groups gates by it) and exposes release();
    a second release() is a no-op."""
    import sys

    for name, fn in registry.queries().items():
        assert fn.__module__.startswith("apache_jira_scraper_spark.operators."), name
        assert getattr(sys.modules[fn.__module__], fn.__name__) is fn.__wrapped__, name
        fn.release()
        fn.release()


def test_gate_wrapper_frees_a_call_set_on_the_next_call_and_on_release(spark):
    """A call's owned checkpoint outlives the call (the gate may return a
    lazy plan over it), is freed when the gate is called again, and the
    last call's set is freed by release(); releasing twice is harmless."""
    from apache_jira_scraper_spark import io

    made = []

    def q_probe(spark, sf_dir):
        made.append(io.checkpoint(spark.range(4)))
        return made[-1].selectExpr("id * 2 AS v")

    def live(df) -> bool:
        level = df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
        return level.useMemory() or level.useDisk()

    gate = registry._owning_gate(q_probe)
    assert (gate.__name__, gate.__module__) == ("q_probe", __name__)
    assert gate(spark, "").count() == 4 and live(made[0])
    gate(spark, "")
    assert not live(made[0]) and live(made[1])
    gate.release()
    gate.release()
    assert not live(made[1])
