"""bench.py must always print exactly one valid JSON line with every
headline query timed (the driver records it verbatim).

r13: the full-HEADLINE smoke (403 queries × untimed+timed pass at
sf0.001 = ~13.5 min, a third of the suite and of the driver's verify
window) is @slow; the default run keeps the identical stdout-contract
assertions on a 24-query subset via the test-only
SPARK_GRAFT_BENCH_QUERIES knob (~1.5 min)."""

import json
import os
import subprocess
import sys

import pytest


def _run_bench(tmp_path, subset=None):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        # keep the committed sf0.1 BENCH_DETAIL.json out of reach
        SPARK_GRAFT_DETAIL_PATH=str(tmp_path / "bench_detail.json"),
        # the smoke validates the stdout CONTRACT, not timings
        SPARK_GRAFT_BENCH_PASSES="1",
    )
    if subset is not None:
        env["SPARK_GRAFT_BENCH_QUERIES"] = ",".join(subset)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip().startswith("{")]
    assert len(lines) == 1, out.stdout
    return json.loads(lines[0])


def _headline_snapshot(repo):
    # snapshot the HEADLINE the subprocess will actually load: importing
    # bench at assert time races any concurrent edit to bench.py made
    # while the subprocess runs (bit us three times in active sessions)
    import ast

    src = open(os.path.join(repo, "bench.py")).read()
    tree = ast.parse(src)
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "HEADLINE" for t in node.targets
        ):
            return [ast.literal_eval(e) for e in node.value.elts]
    raise AssertionError("HEADLINE not found in bench.py")


def test_bench_contract_fast_subset(tmp_path):
    """Default-run twin of the full smoke: one JSON line, every
    requested query timed, on a representative 24-query subset spanning
    the operator families (JVM SQL, window, LSH/dedup, Arrow/pandas,
    iterative graph, streaming-twin)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    headline = _headline_snapshot(repo)
    subset = [
        "flagship_stedi_join",
        "customer_decode",
        "tpch_q1_pricing_summary",
        "region_revenue",
        "risk_quality_windowed",
        "text_profile",
        "dedup_exact",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "sessionization_gap30",
        "curation_end_to_end",
        "grouped_median_pandas",
        "percentiles_exact",
        "approx_aggs",
        "kcore_parts_copurchase",
        "pagerank_parts_copurchase",
        "anf_hop_histogram",
        "dedup_semantic_embedding",
        "incremental_semantic_dedup",
        "active_coverage_time",
        "ngram_jaccard_pairs",
        "bellman_ford_cheapest_path",
        "session_window_agg",
        "image_decode_stats",
    ]
    assert set(subset) <= set(headline)
    payload = _run_bench(tmp_path, subset=subset)
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert set(payload["queries"]) == set(subset)
    assert payload["n_requested"] == len(subset)
    assert all(v >= 0 for v in payload["queries"].values()), payload["queries"]


def test_bench_rejects_unknown_query_names():
    """A SPARK_GRAFT_BENCH_QUERIES name outside HEADLINE must fail the
    run, naming the culprit, before any idle wait or JVM start — never
    print an empty "valid" run."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo,
        env=dict(
            os.environ,
            SPARK_GRAFT_BENCH_QUERIES="customer_decode,no_such_query",
        ),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0
    assert "no_such_query" in out.stderr
    assert "customer_decode" not in out.stderr
    assert not out.stdout.strip()


@pytest.mark.slow
def test_bench_prints_one_json_line(tmp_path):
    """FULL-headline smoke (every registered headline query runs and is
    timed) — identical assertions to the fast twin, full coverage."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    headline = _headline_snapshot(repo)
    payload = _run_bench(tmp_path)
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert set(payload["queries"]) == set(headline)
    assert all(v >= 0 for v in payload["queries"].values()), payload["queries"]


def test_merge_quiet_pin_parses_and_preserves_n_requested(tmp_path):
    """ADVICE r10 fixes pinned: (1) two bench JSON objects printed on
    ONE line parse correctly via raw_decode (the old greedy regex
    swallowed both; a non-greedy one would truncate the nested
    "queries" object) and the LAST is used; (2) the run's n_requested
    survives the merge instead of being overwritten by the merged pin
    size; (3) never-loosen: existing pins only tighten."""
    import json
    import subprocess
    import sys

    pin = {
        "queries": {"a": 1.0, "b": 2.0},
        "value": 3.0,
        "n_ok": 2,
        "n_requested": 99,
        "sf": 0.1,
    }
    pin_path = tmp_path / "pin.json"
    pin_path.write_text(json.dumps(pin))
    run1 = {
        "metric": "total_sec",
        "value": 9.9,
        "queries": {"a": 5.0, "b": 0.5},
        "failed": [],
        "contended": False,
        "n_requested": 3,
    }
    run2 = dict(run1, queries={"a": 0.8, "b": 3.0, "c": 4.0})
    log = tmp_path / "bench.log"
    # both objects on ONE line; the last must win
    log.write_text("noise\n" + json.dumps(run1) + " " + json.dumps(run2) + "\n")
    out = subprocess.run(
        [sys.executable, "scripts/merge_quiet_pin.py", str(log), str(pin_path)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    merged = json.loads(pin_path.read_text())
    assert merged["queries"] == {"a": 0.8, "b": 2.0, "c": 4.0}  # tighten/keep/add
    assert merged["n_requested"] == 3  # the run's, not len(pin)
    assert merged["n_ok"] == 3

    # contended runs must be refused
    bad = dict(run2, contended=True)
    log.write_text(json.dumps(bad) + "\n")
    out2 = subprocess.run(
        [sys.executable, "scripts/merge_quiet_pin.py", str(log), str(pin_path)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert out2.returncode != 0
