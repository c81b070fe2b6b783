"""Every public top-level function or class in the package has a caller
outside `tests/`: a helper that only its own tests call is a second
implementation waiting to drift from the one the catalog runs.

The scan is over names in code (AST `Name` and `Attribute` nodes), so a
mention in a string, docstring or comment is not a caller, and neither
is a reference inside the definition itself. `@register` builders are
exempt: the catalog reaches them through the registry. A name that
stays without a caller goes on ALLOWED with a one-line reason."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "trace_data_pipeline_spark")

ALLOWED = {
    # SURVEY §2 external sources, proven by test_external_sources.py
    # and test_xlsx_source.py.
    "fetch": "S9-S12 download step, kept apart from the offline readers",
    "read_tenor_curve": "S9 HTTP CSV curve reader (COVERAGE row)",
    "liu_wu_curve": "S10 xlsx curve reader (COVERAGE row)",
    "read_zip_member": "S11 zip→parquet reader (COVERAGE row)",
    "read_zip_text": "S12 zipped FF definition reader (COVERAGE row)",
    "ff_industry_table": "S12 FF industry-ranges table (COVERAGE row)",
    "hhmmss_to_seconds": "§2.7 twin of the reference's time_to_seconds",
    "hms_to_seconds_checked": "§2.7 twin of the reference's _hms_to_seconds",
    "nyse_sessions": "driver-side session list, the reference for nyse_sessions_df",
    "daily_price_panel": "A1/A2 operator the reference differential checks",
    "salted_join": "skew mitigation operator (COVERAGE skew row)",
    "resize_images": "COVERAGE multimodal plumbing row",
    "sample_frames": "COVERAGE multimodal plumbing row",
    "streaming_sessionize": "COVERAGE streaming sessionization row",
    "incremental_dedup_sink": "COVERAGE streaming corpus-ingest row",
    "idempotent_parquet_writer": "COVERAGE streaming exactly-once sink row",
    "kafka_json_stream": "config-only Kafka transport (needs the connector jar)",
    "register_views": "end-user SQL surface (COVERAGE §2.7b)",
    "legend_bbox": "legend geometry the renderer owns, read by tests",
    **dict.fromkeys(
        ("write_bucketed", "bucketed_join", "exchanges_in_plan"),
        "bucketing trio: ROADMAP direction 2 gives it a caller or deletes it",
    ),
}


def _modules(root, skip=()):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in skip]
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    yield os.path.join(d, f), ast.parse(fh.read())


def _is_register_builder(node):
    return any(
        getattr(t, "id", getattr(t, "attr", None)) == "register"
        for t in (d.func if isinstance(d, ast.Call) else d for d in node.decorator_list)
    )


def _public_defs():
    """{name: defining file} for the package's public top-level defs."""
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return {
        node.name: os.path.relpath(path, REPO)
        for path, tree in _modules(PACKAGE)
        for node in tree.body
        if isinstance(node, kinds)
        and not node.name.startswith("_")
        and not _is_register_builder(node)
    }


def _names_used_outside_tests():
    """Names read anywhere outside tests/, except a top-level
    definition's references to itself. A use of `alias` from
    `import name as alias` counts as a use of `name`."""
    used, aliases = set(), {}
    for _, tree in _modules(REPO, skip=("tests",)):
        for node in tree.body:
            own = getattr(node, "name", None)
            for sub in ast.walk(node):
                if isinstance(sub, (ast.Import, ast.ImportFrom)):
                    aliases.update((a.asname, a.name) for a in sub.names if a.asname)
                elif isinstance(sub, ast.Name) and sub.id != own:
                    used.add(sub.id)
                elif isinstance(sub, ast.Attribute) and sub.attr != own:
                    used.add(sub.attr)
    return used | {aliases[a] for a in used if a in aliases}


def test_every_public_def_has_a_caller_outside_tests():
    used = _names_used_outside_tests()
    orphans = sorted(
        f"{path}::{name}"
        for name, path in _public_defs().items()
        if name not in used and name not in ALLOWED
    )
    assert not orphans, (
        "public defs with no caller outside tests/ — give them one, "
        f"delete them, or allowlist them with a reason: {orphans}"
    )


def test_allowlist_is_current():
    """An allowlisted name that is gone, or has gained a caller, leaves
    the allowlist."""
    defs, used = _public_defs(), _names_used_outside_tests()
    stale = sorted(n for n in ALLOWED if n not in defs or n in used)
    assert not stale, f"drop these from ALLOWED: {stale}"
