"""Bench-headline honesty contract (VERDICT r10 #7): every entry whose
committed sf0.1 sweep line exceeds the 2 s cost threshold must either be
timed by bench.py's HEADLINE set or carry a documented exclusion reason
in bench.py HEADLINE_EXCLUDED — a new expensive registration cannot
silently skip the per-round bench."""

from __future__ import annotations

import pathlib
import re

from numalogic_prometheus_spark import plans

_ROOT = pathlib.Path(__file__).resolve().parent.parent

_THRESHOLD_S = 2.0


def _load_bench_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", str(_ROOT / "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench_sets():
    mod = _load_bench_module()
    return list(mod.HEADLINE), dict(mod.HEADLINE_EXCLUDED)


def test_expensive_sweep_entries_are_benched_or_excluded():
    headline, excluded = _load_bench_sets()
    log = (_ROOT / "SWEEP_sf0.1.log").read_text()
    slow = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r"^PASS (\S+) ([\d.]+)s", log, re.M)
        if float(m.group(2)) > _THRESHOLD_S
    }
    assert slow, "sweep log has no timed entries — format drift?"
    uncovered = {
        n: t for n, t in slow.items()
        if n not in headline and n not in excluded
    }
    assert not uncovered, (
        f"entries >{_THRESHOLD_S}s in SWEEP_sf0.1.log neither benched nor "
        f"excluded-with-reason: {sorted(uncovered.items())}"
    )


def test_headline_and_exclusions_resolve():
    """Every HEADLINE / HEADLINE_EXCLUDED name must be a registered
    query, the two sets must be disjoint, and every exclusion must
    carry a non-empty reason."""
    headline, excluded = _load_bench_sets()
    queries = plans.all_queries()
    missing = [n for n in headline if n not in queries]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    missing_ex = [n for n in excluded if n not in queries]
    assert not missing_ex, f"excluded names not in registry: {missing_ex}"
    overlap = set(headline) & set(excluded)
    assert not overlap, f"benched AND excluded: {sorted(overlap)}"
    assert all(isinstance(r, str) and r.strip() for r in excluded.values())


def test_core32_is_frozen_and_registered():
    """CORE_32 (VERDICT r14 #4) must stay exactly the round-4 artifact
    membership — 32 names, all registered, all in HEADLINE — so
    `value_core` remains cross-round comparable."""
    mod = _load_bench_module()
    assert len(mod.CORE_32) == 32
    assert len(set(mod.CORE_32)) == 32
    queries = plans.all_queries()
    missing = [n for n in mod.CORE_32 if n not in queries]
    assert not missing, f"CORE_32 names not in registry: {missing}"
    not_headline = [n for n in mod.CORE_32 if n not in mod.HEADLINE]
    assert not not_headline, (
        f"CORE_32 members missing from HEADLINE: {not_headline}"
    )
    import json

    r4 = json.loads((_ROOT / "BENCH_r04.json").read_text())
    r4_set = set(r4["parsed"]["queries"])
    assert set(mod.CORE_32) == r4_set, "CORE_32 drifted from the r4 artifact"


def test_quiet_reference_loader():
    """The outlier re-pass reference must resolve to the NEWEST
    committed quiet twin and carry per-entry floors."""
    from bench import _load_quiet_reference

    ref = _load_quiet_reference()
    assert ref, "a BENCH_quiet_r*.json is committed in this repo"
    import re

    m = re.search(r"BENCH_quiet_r(\d+)", ref["_file"])
    assert m and int(m.group(1)) >= 17
    floors = {k: v for k, v in ref.items() if k != "_file"}
    assert len(floors) >= 80
    assert all(isinstance(v, float) and v > 0 for v in floors.values())


def test_printed_line_is_compact():
    """The stdout line is the driver's ONLY capture channel and its tail
    window has truncated full provenance dumps twice (r11, r16 ->
    parsed=null, a lost round-over-round table). Pin: contract_line
    emits ONLY the whitelisted fields, never the provenance ledgers,
    and stays under a 6 kB ceiling even with every HEADLINE entry
    present (87 names alone are ~2.9 kB, so sub-2kB is impossible
    while `queries` is contract-mandated — the ceiling bounds creep,
    the whitelist bounds content)."""
    import json

    mod = _load_bench_module()
    # worst-case realistic artifact: every headline entry timed, plus
    # every provenance field a real run writes
    out = {
        "metric": "headline_queries_total",
        "value": 12345.6789,
        "unit": "sec",
        "queries": {n: 123.4567 for n in mod.HEADLINE},
        "sf": 0.1,
        "value_core": 1234.5678,
        "contended": False,
        "artifact": "BENCH_LATEST.json",
        # provenance that must NOT leak to stdout
        "pass_shares": {n: [0.012] * 3 for n in mod.HEADLINE},
        "pass_counts": {n: 3 for n in mod.HEADLINE},
        "min_pass_share": {n: 0.012 for n in mod.HEADLINE},
        "external_share_bound": 0.10,
        "storm_tainted_entries": [],
        "outlier_repass": {},
        "noisy_floors": {},
    }
    line = mod.contract_line(out)
    parsed = json.loads(line)
    assert set(parsed) == set(mod.CONTRACT_LINE_FIELDS) & set(out)
    assert "pass_counts" not in parsed and "pass_shares" not in parsed
    assert "\n" not in line
    assert len(line) < 6000, f"printed line grew to {len(line)} chars"
    # contract fields the driver greps for are all present
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed
    assert len(parsed["queries"]) == len(mod.HEADLINE)


def test_bench_reads_only_pinned_env_vars():
    """bench.py's options are exactly these environment variables; a
    new knob has to be added here on purpose."""
    import ast

    tree = ast.parse((_ROOT / "bench.py").read_text())

    def _is_environ(node) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.add(node.slice.value)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and (
                _is_environ(node.func.value)
                or (
                    node.func.attr == "getenv"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                )
            )
        ):
            keys.add(node.args[0].value)
    assert keys == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_BENCH_BUDGET_S",
        "SPARK_DRIVER_MEM",
    }
