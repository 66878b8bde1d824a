"""Guard against dangling references in the docs and the engine: every
`scripts/<name>` they mention exists, and none of them names a file of
the retired per-round benchmark (its harness, plan dumps and round
reports). CHANGES.md and ROADMAP.md record history and are not scanned."""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCANNED = [
    "README.md",
    "COVERAGE.md",
    "SCALE.md",
    "FIXTURES.md",
    ".claude/skills/verify/SKILL.md",
    "__spark_entry__.py",
    *sorted(
        os.path.relpath(p, ROOT)
        for p in glob.glob(os.path.join(ROOT, "transporter_spark", "**", "*.py"), recursive=True)
    ),
]

SCRIPT_REF = re.compile(r"\bscripts/([A-Za-z0-9_.\-]+[A-Za-z0-9_])")

RETIRED = re.compile(
    r"\bbench\.py\b"
    r"|\bplans/r\d+"
    r"|\b\w+_r\d+\w*\.(?:md|json)\b"
    r"|\bBENCH_FLOORS\.md\b"
    r"|\bVERDICT\.md\b"
)


def _texts():
    for rel in SCANNED:
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            yield rel, fh.read()


def test_every_mentioned_script_exists():
    dangling = sorted(
        (rel, name)
        for rel, text in _texts()
        for name in set(SCRIPT_REF.findall(text))
        if not os.path.exists(os.path.join(ROOT, "scripts", name))
    )
    assert dangling == []


def test_no_reference_to_retired_benchmark_files():
    hits = sorted(
        (rel, m.group(0)) for rel, text in _texts() for m in RETIRED.finditer(text)
    )
    assert hits == []


def test_patterns_catch_what_they_guard():
    """The patterns themselves: each retired form matches, and the live
    files that share a prefix with one do not."""
    for bad in (
        "run bench.py",
        "plans/r15/x.txt",
        "see OPTIMIZATION_r15.md",
        "BENCH_IDLE_r16_c8.json",
        "CORRECTNESS_r01.json",
        "BENCH_FLOORS.md",
        "VERDICT.md",
    ):
        assert RETIRED.search(bad), bad
    for ok in ("perfbench/run.py", "plans/pipeline.py", "BENCHMARK.json", "VERDICT r11 item 5"):
        assert not RETIRED.search(ok), ok
    assert SCRIPT_REF.findall("python scripts/driver_sim.py, scripts/probe_scale.py.") == [
        "driver_sim.py",
        "probe_scale.py",
    ]


def test_library_code_prints_nothing_to_stdout():
    """Every ``print(`` in ``transporter_spark/`` outside the CLI names
    its stream (``file=``): library code writes nothing to stdout."""
    import ast

    bare = []
    for rel in SCANNED:
        if not rel.startswith("transporter_spark") or rel.endswith("cli.py"):
            continue
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        bare += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "print"
            and not any(kw.arg == "file" for kw in node.keywords)
        ]
    assert bare == []


def test_one_footer_opener_and_no_recorded_schema():
    """Parquet footers are opened on the driver in one engine module,
    ``sources/files.py`` (``parquet_footer``), and no engine code names
    the retired ``schema_key`` store option: the segments' footers are
    the one schema record."""
    opener = re.compile(
        r"^\s*(?:import|from) pyarrow\.parquet\b|^\s*from pyarrow import .*\bparquet\b",
        re.M,
    )
    texts = dict(t for t in _texts() if t[0].startswith("transporter_spark"))
    assert sorted(rel for rel, text in texts.items() if opener.search(text)) == [
        os.path.join("transporter_spark", "sources", "files.py")
    ]
    assert [rel for rel, text in texts.items() if "schema_key" in text] == []
