"""Suite pin for the standing gate's graph-consumer parity section
(tools/scaleup_gate._graph_consumer_parity, r17): the three wide-
relation graph consumers — clusters_star, kcore, pagerank — must
checksum-equal their exact driver-side recomputes (min-label
union-find / degree peel / integer power iteration) on a plain sf
dir, so a semantics drift in any consumer or recompute fails in the
suite, not first in an end-of-round gate run.

The gate itself runs this on derived xM corpora (SCALEUP_r{N}.json);
here it runs at sf0.001 where the wide graph is known non-degenerate
(test_kcore_wide_identity pins a non-empty core at this SF).
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

SF001 = "/root/testdata/sf0.001"


def test_graph_consumer_parity_sf001(spark):
    from scaleup_gate import _graph_consumer_parity

    out = _graph_consumer_parity(spark, SF001)
    # non-vacuity: the sf0.001 wide graph has edges and a k-core
    assert out["wide_pairs"] > 0
    assert out["kcore"]["core_size"] > 0
    assert out["clusters_star"]["n_docs"] == out["pagerank"]["n_docs"] > 0
    for name in ("clusters_star", "kcore", "pagerank"):
        assert out[name]["match"], (name, out[name])
        # the checksum is a real comparison, not echoed input
        assert out[name]["checksum_exact"] == out[name]["checksum_spark"]


def test_gate_subset_guards():
    """Unknown names and empty subset overrides must error, never
    pass vacuously."""
    import subprocess

    repo = os.path.join(os.path.dirname(__file__), "..")
    for args in (["--parity", ""], ["--timing", ""]):
        p = subprocess.run(
            [sys.executable, "tools/scaleup_gate.py", "2", *args],
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert p.returncode == 2, (args, p.stdout, p.stderr)
        assert "empty query list" in p.stdout
    # a typo'd name must exit 2 from the registry alone — the guard
    # runs BEFORE get_spark(), so no SparkSession spin-up (r17 ADVICE)
    p = subprocess.run(
        [sys.executable, "tools/scaleup_gate.py", "2",
         "--parity", "dedup_exact,no_such_query"],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode == 2, (p.stdout, p.stderr)
    assert "unknown queries" in p.stdout
    assert "no_such_query" in p.stdout
