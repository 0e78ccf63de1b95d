"""Evidence pointers must resolve: program code, tests, bench.py,
README.md and the verify skill may cite a probe script under scripts/
or a plan dump under plans/r1N/ only if that file or directory exists.
History documents (NOTES.md, OPTIMIZATION_r*.md, ...) record past
rounds and are not checked."""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"

SCRIPT_REF = re.compile(r"scripts/[\w./-]+?\.py")
PLAN_DUMP_REF = re.compile(r"plans/r1\d+/")


def _checked_files():
    files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(REPO, "tests", "*.py"))
    return files + [
        os.path.join(REPO, p)
        for p in ("bench.py", "README.md", ".claude/skills/verify/SKILL.md")
    ]


def test_cited_scripts_and_plan_dumps_exist():
    dangling, cited = [], set()
    for path in _checked_files():
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for ref in SCRIPT_REF.findall(text) + PLAN_DUMP_REF.findall(text):
            cited.add(ref)
            if not os.path.exists(os.path.join(REPO, ref)):
                dangling.append(f"{os.path.relpath(path, REPO)}: {ref}")
    assert not dangling, "\n".join(dangling)
    # the scan is live: the verify recipe's checker is always cited
    assert "scripts/driver_check.py" in cited
