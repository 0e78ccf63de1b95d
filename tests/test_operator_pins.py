"""Operators pin shared frames with localCheckpoint, never with
persist()/cache(): a CacheManager entry is matched by plan and file
path, so it outlives an in-place rewrite of the input directory and a
later call in the same session silently reads stale rows (and it stays
until an explicit unpersist). The one allowed pin is ivf_topk's
fingerprinted IVF index cache, which checks the corpus fingerprint on
every hit and unpersists on mismatch."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"

ALLOWED = {("similarity.py", "ivf_topk", "persist")}


def _cache_calls(path):
    """(file, enclosing top-level function, method) for every
    `.persist(...)` / `.cache(...)` call in the module."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    found = []
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
            ):
                owner = getattr(top, "name", "<module>")
                found.append((os.path.basename(path), owner, node.func.attr))
    return found


def test_operators_pin_with_local_checkpoint_only():
    calls = []
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "operators", "*.py"))):
        calls += _cache_calls(path)
    unexpected = [c for c in calls if c not in ALLOWED]
    assert not unexpected, unexpected
    # the scan is live: the one allowed pin is still found
    assert ("similarity.py", "ivf_topk", "persist") in calls
