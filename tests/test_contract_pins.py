"""Standing contract pins (VERDICT r17 item 6, decided r18): the three
declared scale ceilings are SEMANTICS, not performance defects, and
future optimization rounds must stop re-litigating them. Decision
record in OPTIMIZATION_r18.md; these tests make the decision
mechanical — changing any pinned ceiling now fails a test and forces
the renegotiation to be explicit (new oracle, new growth-guard
premise, new test), instead of drifting in as a "speedup". Each pin
runs the operator on a tiny synthetic ``documents``/``embeddings``
table and checks its output rows.

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
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from catena_spark.operators import llm
from catena_spark.plans import formatted_plan

#: Four 64-dim vectors, one character per component: chr(ord("e") + 8x),
#: so components are multiples of 1/8 in [-0.5, 0.5] (exact in float32).
#: Pairs (1, 2) and (3, 4) are both at cosine >= 0.4 (0.412 and 0.439);
#: every other pair is below it. Under the 16 md5 hyperplanes, 1 and 2
#: share a 2-bit bucket in some band but no 4-bit one; 3 and 4 share a
#: 1-bit sign but no 2-bit bucket.
_VECS = (
    "fcgabibfaidabggbdbigabdagadaicegcibeicbdfbibadhigfhhfedcdbeihfhe",
    "acgchgbfahhehggbdddcgdcagabadgcccibchegbfbgbeaeiafhffedidibidche",
    "bhfedbbffehdefeegecedggbbhhfdgcabcbbfdehiagaheefgbhfidgicbiiebde",
    "bbecddiffghdefhdggcidcgibabfdgfabcbbgeahddgaaehfebhfiddicbiiebda",
)


def _embeddings_dir(tmp_path) -> str:
    vecs = [[(ord(c) - ord("e")) / 8 for c in s] for s in _VECS]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(1, len(vecs) + 1), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0, 0, 1, 1], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    return str(tmp_path)


def _pairs(df, a: str, b: str) -> set[tuple[int, int]]:
    return {(r[a], r[b]) for r in df.collect()}


def test_near_dup_stays_exact_brute_force_with_cap(spark, tmp_path):
    assert llm.NEAR_DUP_MAX_ROWS == 10_000
    sf = _embeddings_dir(tmp_path)
    # the recall baseline is exact: both near pairs, banded or not
    at_cap = llm.llm_embedding_near_dup(spark, sf, max_rows=len(_VECS))
    assert _pairs(at_cap, "vec_a", "vec_b") == {(1, 2), (3, 4)}
    # ... and JVM-only: no Python boundary in the oracle's plan
    plan = formatted_plan(at_cap)
    for marker in ("Python", "Pandas", "MapInArrow"):
        assert marker not in plan, f"Python boundary {marker} in the oracle"
    # one row past the cap fails loud when the query runs
    over = llm.llm_embedding_near_dup(spark, sf, max_rows=len(_VECS) - 1)
    with pytest.raises(Exception, match="exact all-pairs recall oracle"):
        over.collect()


def test_ann_lsh_band_geometry_pinned(spark, tmp_path):
    """16 sign bits in 8 bands x 2 bits: (1, 2) collide in a 2-bit band
    and pass the 0.4 verify; (3, 4) pass it too but collide in no 2-bit
    band, so the ANN path misses them. One-bit bands would keep (3, 4)
    and four-bit bands would drop (1, 2)."""
    df = llm.llm_ann_lsh(spark, _embeddings_dir(tmp_path))
    assert {(r.vec_a, r.vec_b, r.cos_sim) for r in df.collect()} == {
        (1, 2, 0.412371)
    }


def test_simhash_near_pairs_semantics_pinned(spark, tmp_path):
    """Every pair at Hamming <= 3 and none beyond: docs 1-2 and 2-3 sit
    at distance 3; docs 1-3 sit at 4 although they share a byte band
    (a join candidate), so the verify must drop them."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": ["alpha beta", "alpha beta w33", "alpha beta w34"],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)
    fp = {r.doc_id: r.simhash for r in llm.llm_simhash_fingerprint(spark, sf).collect()}
    assert bin(fp[1] ^ fp[3]).count("1") == 4
    assert any((fp[1] >> s) & 255 == (fp[3] >> s) & 255 for s in (0, 8, 16, 24))
    got = llm.llm_simhash_near_pairs(spark, sf).collect()
    assert {(r.doc_a, r.doc_b, r.hamming) for r in got} == {(1, 2, 3), (2, 3, 3)}


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
