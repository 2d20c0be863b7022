"""Every repo path the engine's code and the top-level docs cite exists:
`tools/<name>.py`, `BENCH/...` and `plans/...`. A deleted script or result
file must take its citations with it."""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# an output path given to a command (`OUT=BENCH/x.json`, `--out BENCH/x.json`)
# names a file the command writes, not a result it cites
_CITED = re.compile(r"(?<!OUT=)(?<!--out )\b(tools/[\w.-]+\.py|BENCH/[\w.*-]+|plans/[\w./*-]+)")


def _sources() -> list[str]:
    files = glob.glob(os.path.join(REPO, "scalemine_spark", "**", "*.py"), recursive=True)
    for name in ("README.md", "Makefile", os.path.join(".claude", "skills", "verify", "SKILL.md")):
        if os.path.exists(os.path.join(REPO, name)):
            files.append(os.path.join(REPO, name))
    return sorted(files)


def cited_paths(text: str) -> set[str]:
    return {m.rstrip(".,") for m in _CITED.findall(text)}


def test_collector_reads_citations_not_outputs():
    text = (
        "measured (BENCH/ab_asof.json, tools/ab.py), plans/r06/triangles_*.\n"
        "make ab OUT=BENCH/ab_x.json; python3 tools/ab.py --out BENCH/holdout_x.json"
    )
    assert cited_paths(text) == {"BENCH/ab_asof.json", "tools/ab.py", "plans/r06/triangles_*"}


def test_cited_paths_exist():
    missing = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for cited in sorted(cited_paths(text)):
            if not glob.glob(os.path.join(REPO, cited)):
                missing.append(f"{os.path.relpath(path, REPO)}: {cited}")
    assert not missing, "cited paths that do not exist:\n" + "\n".join(missing)
