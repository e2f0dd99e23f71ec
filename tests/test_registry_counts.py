"""Registry bookkeeping invariants — the doc-count drift guard: every
tally PARITY.md cites is derived here from registry.specs() so the docs
can't silently diverge again."""

from pathlib import Path

from myserver_datawarehouse_spark import registry
from myserver_datawarehouse_spark.plans import streaming_plans

REPO = Path(__file__).resolve().parents[1]


def test_every_spec_has_an_oracle():
    specs = registry.specs()
    assert all(s.oracle is not None for s in specs), [
        s.name for s in specs if s.oracle is None
    ]
    assert len(registry.oracle_sql()) == len(specs)


def test_registry_size_matches_docs():
    # PARITY.md / SURVEY.md cite this total; bump it deliberately when
    # adding queries, never let prose drift from the registry.
    assert len(registry.specs()) == 238


def test_streaming_variant_count_matches_docs():
    variants = [
        n for n in dir(streaming_plans) if n.startswith("streaming_")
    ]
    assert len(variants) == 20  # PARITY.md §2.12 streaming variant count
    registered = {s.name for s in registry.specs()}
    assert set(variants) <= registered


ADJUDICATION_BUDGET = 50  # driver adjudicates ~50 queries/round, head-first


def test_staleness_debt_bounded():
    """No standing verdict may be older than one full rotation of the
    adjudication budget. The bound is DERIVED, not hard-coded: a
    registry of N queries on a 50/round budget fully rotates in
    ceil(N/50) rounds, so the stalest legitimate verdict is
    newest - ceil(N/50), where newest is the newest CORRECTNESS record
    on disk. Verdict rounds are the ones the registry derives from
    those records at import."""
    import math
    import re

    rounds = [
        int(re.search(r"_r(\d+)\.json$", p.name).group(1))
        for p in registry.CORRECTNESS_DIR.glob("CORRECTNESS_r*.json")
    ]
    if not rounds:  # fresh clone without driver artifacts
        return
    newest = max(rounds)
    rotation = math.ceil(len(registry.specs()) / ADJUDICATION_BUDGET)
    stale = {
        s.name: t
        for s in registry.specs()
        if 0 < (t := registry._staleness(s.name)) < newest - rotation
    }
    assert not stale, (
        f"{len(stale)} standing verdicts predate round "
        f"{newest - rotation} (newest record {newest}, full rotation "
        f"{rotation} rounds); the budget was not spent on the stalest "
        f"tier: {sorted(stale.items(), key=lambda kv: kv[1])[:10]}"
    )


def test_changed_since_verdict_keys_are_registry_names():
    names = {s.name for s in registry.specs()}
    assert set(registry._CHANGED_SINCE_VERDICT) <= names, (
        set(registry._CHANGED_SINCE_VERDICT) - names
    )


def test_plan_change_newer_than_verdict_heads_the_order(monkeypatch):
    verdicts = {"q_changed": 12, "q_reverified": 15, "q_steady": 11}
    monkeypatch.setattr(registry, "_VERDICTS", verdicts)
    monkeypatch.setattr(
        registry,
        "_CHANGED_SINCE_VERDICT",
        {"q_changed": 14, "q_reverified": 15},
    )
    assert registry._staleness("q_changed") == 0  # verdict predates change
    assert registry._staleness("q_reverified") == 15  # same-round verdict
    assert registry._staleness("q_steady") == 11
    assert registry._staleness("q_never_verified") == 0


def test_committed_plan_changes_head_the_registry():
    """At the committed records every _CHANGED_SINCE_VERDICT entry whose
    verdict predates its change is in the head tier, i.e. the first
    queries the oracle gate checks."""
    changed = {
        n
        for n, rnd in registry._CHANGED_SINCE_VERDICT.items()
        if registry._VERDICTS.get(n, 0) < rnd
    }
    head = [s.name for s in registry.specs()][: len(changed)]
    assert set(head) == changed
    assert all(registry._staleness(n) == 0 for n in head)


def test_order_does_not_depend_on_cwd(tmp_path):
    """The rotation reads the CORRECTNESS records next to the package,
    so importing from another working directory yields the same order."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from myserver_datawarehouse_spark import registry;"
            "print('\\n'.join(registry.queries()))",
        ],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": repo},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out == list(registry.queries())


def test_growth_budget_clears_head_and_stalest_tier():
    """Registry-growth discipline: the adjudication budget must cover
    the head tier (new/changed queries) PLUS the stalest standing tier,
    or the rotation never converges and verdicts age without bound."""
    tiers: dict[int, int] = {}
    for s in registry.specs():
        t = registry._staleness(s.name)
        tiers[t] = tiers.get(t, 0) + 1
    head = tiers.get(0, 0)
    standing = [t for t in sorted(tiers) if t > 0]
    stalest = tiers[standing[0]] if standing else 0
    assert head + stalest <= ADJUDICATION_BUDGET, (
        f"{head} never-adjudicated + {stalest} stalest-tier queries "
        f"exceed the {ADJUDICATION_BUDGET}/round budget; ship fewer "
        f"new queries this round or the stalest tier won't retire"
    )


def test_names_unique_and_sorted_by_staleness():
    specs = registry.specs()
    names = [s.name for s in specs]
    assert len(names) == len(set(names))
    # Staleness tiers are non-decreasing (never-adjudicated first).
    tiers = [registry._staleness(n) for n in names]
    assert tiers == sorted(tiers)


def test_committed_reports_cover_the_whole_registry():
    """Drift guard: the committed PLANLINT.md and SHUFFLE.md artifacts
    must cover exactly len(registry.specs()) queries. New queries
    shipped without regenerated reports fail the suite here, not in a
    later review."""
    import re

    n = len(registry.specs())

    with open(REPO / "PLANLINT.md") as fh:
        planlint = fh.read()
    m = re.search(
        r"\*\*(\d+)/(\d+) queries clean; (\d+) allowlisted", planlint
    )
    assert m, "PLANLINT.md missing its clean/total header"
    clean, total, allowed = (int(g) for g in m.groups())
    assert total == n, (
        f"PLANLINT.md covers {total} queries but the registry has {n}; "
        f"re-run tools/plan_lint.py"
    )
    # clean + allowlisted account for every registry query
    assert clean + allowed == n

    with open(REPO / "SHUFFLE.md") as fh:
        shuffle = fh.read()
    m = re.search(r"(\d+)/(\d+) queries shuffle ZERO", shuffle)
    assert m, "SHUFFLE.md missing its zero-shuffle header"
    assert int(m.group(2)) == n, (
        f"SHUFFLE.md covers {m.group(2)} queries but the registry has "
        f"{n}; re-run tools/profile_query.py"
    )
