"""Operators pin shared frames with localCheckpoint, never with
persist()/cache(): a CacheManager entry is matched by plan and file
path, so it outlives an in-place rewrite of the input directory and a
later call in the same session silently reads stale rows (and it stays
until an explicit unpersist). The one allowed pin is ivf_topk's
fingerprinted IVF index cache, which checks the corpus fingerprint on
every hit and unpersists on mismatch.

Operators also never probe `getNumPartitions()` while building a plan:
on an aggregate or join input it makes AQE run the input's shuffle
stages as jobs of their own, which the real query then runs again."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"

ALLOWED = {("similarity.py", "ivf_topk", "persist")}


def _method_calls(source, name, methods):
    """(name, enclosing top-level function, method) for every
    `.<method>(...)` call in `source` whose method is in `methods`."""
    found = []
    for top in ast.parse(source).body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in methods
            ):
                owner = getattr(top, "name", "<module>")
                found.append((name, owner, node.func.attr))
    return found


def _operator_calls(methods):
    calls = []
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "operators", "*.py"))):
        with open(path, encoding="utf-8") as fh:
            calls += _method_calls(fh.read(), os.path.basename(path), methods)
    return calls


def test_operators_pin_with_local_checkpoint_only():
    calls = _operator_calls(("persist", "cache"))
    unexpected = [c for c in calls if c not in ALLOWED]
    assert not unexpected, unexpected
    # the scan is live: the one allowed pin is still found
    assert ("similarity.py", "ivf_topk", "persist") in calls


def test_operators_never_probe_partition_count():
    """No `getNumPartitions()` under operators/: the probe runs the
    input's shuffle stages at plan-build time and throws them away."""
    assert _operator_calls(("getNumPartitions",)) == []
    # the scan is live: it finds the probe in a literal source
    probe = "def f(df):\n    return df.rdd.getNumPartitions()\n"
    assert _method_calls(probe, "probe.py", ("getNumPartitions",)) == [
        ("probe.py", "f", "getNumPartitions")
    ]
