"""Standing contract pins (VERDICT r17 item 6, decided r18): the three
declared scale ceilings are SEMANTICS, not performance defects, and
future optimization rounds must stop re-litigating them. Decision
record in OPTIMIZATION_r18.md; these tests make the decision
mechanical — changing any pinned ceiling now fails a test and forces
the renegotiation to be explicit (new oracle, new growth-guard
premise, new test), instead of drifting in as a "speedup".

1. llm_embedding_near_dup IS the exact all-pairs recall baseline for
   the banded ANN path: brute force is its declared point (the
   sweep_scale growth guard asserts llm_ann_lsh beats it), and the
   NEAR_DUP_MAX_ROWS fail-loud cap is the documented scale boundary.
   Making it fast (numpy batching, banding) would break the
   banded-beats-exact premise and put a Python boundary in a
   correctness oracle.
2. llm_ann_lsh's 16-bit/8x2-band constants define the candidate set
   and hence the OUTPUT (mirrored in the DuckDB oracle); they cannot
   be tuned for speed. The fixture's low-similarity regime makes the
   2-bit bands degenerate (~1.8M verify pairs) — documented, bounded,
   and not a defect.
3. llm_simhash_near_pairs' output is every pair at Hamming <= 3 over
   4 byte-bands — pair volume is quadratic in fixture duplicate
   density BY DEFINITION of the key; a count-only twin would be a new
   key (out of optimization-round scope), not a rewrite.
"""

from __future__ import annotations

import ast
import inspect
import os

from catena_spark.operators import llm


def test_near_dup_stays_exact_brute_force_with_cap():
    assert llm.NEAR_DUP_MAX_ROWS == 10_000
    src = inspect.getsource(llm.llm_embedding_near_dup)
    assert "assert_true" in src, "fail-loud scale cap removed"
    # the recall baseline must stay JVM-exact: no Python boundary
    for marker in ("mapInPandas", "mapInArrow", "pandas_udf", "applyInPandas"):
        assert marker not in src, f"Python boundary {marker} in the oracle"


def test_ann_lsh_band_geometry_pinned():
    src = inspect.getsource(llm.llm_ann_lsh)
    # 16 sign bits in 8 bands x 2 bits — the declared candidate geometry
    assert "16 sign-bits -> 8 bands x 2 bits" in src


def test_simhash_near_pairs_semantics_pinned():
    src = inspect.getsource(llm.llm_simhash_near_pairs)
    assert 'F.col("hamming") <= 3' in src
    assert "for i in range(4)" in src  # 4 byte-bands (exact by pigeonhole)


def test_banding_growth_guard_premise_intact():
    """The sweep_scale growth guard still compares the banded path
    against the exact baseline — the premise pin #1 protects."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "sweep_scale.py",
    )
    with open(path) as f:
        tree = ast.parse(f.read())
    (value,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "BANDING_SPEEDUP" for t in node.targets)
    ]
    assert ("llm_ann_lsh", "llm_embedding_near_dup") in [
        (a, b) for a, b, _ in ast.literal_eval(value)
    ]
